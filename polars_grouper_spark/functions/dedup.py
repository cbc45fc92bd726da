"""Deduplication operators for large-scale training-data pipelines.

Four families, all shuffle-conscious and driver-collect-free:

- :func:`exact_dedup` — hash-groupBy on (normalized) content; one shuffle.
- :func:`ngram_jaccard_pairs` — exact shingle-set Jaccard via a
  shingle-inverted-index self-join.  The frequent-shingle cap
  (``max_shingle_df``) bounds the quadratic posting-list blowup that
  otherwise melts the join at 100 TB (a shingle shared by k docs emits
  k^2 candidate rows).
- :func:`minhash_signatures` / :func:`minhash_lsh_pairs` — MinHash + LSH
  banding: candidates meet only if a band signature collides, so the join
  is equality-partitioned on (band, signature) — linear shuffle, no
  all-pairs.  Hashes are md5-derived (``hashing.portable_hash64``) so the
  DuckDB oracle can replicate bit-for-bit.
- :func:`simhash` / :func:`simhash_pairs` — 60-bit SimHash; near-dup
  candidates via the pigeonhole chunk trick (hamming <= k pairs must share
  one of k+1 chunks), verified with ``bit_count(a XOR b)``.

Embedding-space near-dup lives in ``functions.similarity``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from polars_grouper_spark.functions.hashing import (
    HASH_SPACE,
    hash_pair64,
    hash_pair64_sql,
    portable_hash64,
    portable_hash64_sql,
)
from polars_grouper_spark.functions.text import tokens
from polars_grouper_spark.plans.iteration import truncate_lineage


def exact_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    content_cols: list[str] | None = None,
) -> DataFrame:
    """Exact duplicate grouping → (id, canonical_id, group_size, is_duplicate).

    canonical_id = min id among identical rows.  Single shuffle on the
    content hash; content equality (not just hash) is enforced by grouping
    on the columns themselves.
    """
    content_cols = content_cols or ["text"]
    g = df.groupBy(*content_cols).agg(
        F.min(id_col).alias("canonical_id"),
        F.count(F.lit(1)).alias("group_size"),
    )
    return (
        df.join(g, content_cols)
        .select(
            F.col(id_col),
            "canonical_id",
            "group_size",
            (F.col(id_col) != F.col("canonical_id")).alias("is_duplicate"),
        )
    )


def shingles_from_tokens(toks, n: int = 3):
    """Distinct word n-gram shingles from a token-array column.

    Built by ``zip_with`` over ``n`` pre-shifted slices of the token array —
    one slice per offset, element-wise concat.  This stays a pure JVM
    expression (no shuffle, no Python) and avoids the per-index
    ``slice``-inside-``transform`` pattern, which materializes an array copy
    per output shingle and measured ~4-6× slower at bench scale.

    ``toks`` should be a plain column reference (attribute): the expression
    references it ~n+4 times, and attribute references are free while an
    inlined tokenizer expression would be re-evaluated at every reference.
    """
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    sh = F.slice(toks, 1, m)
    for j in range(1, n):
        sh = F.zip_with(
            sh, F.slice(toks, j + 1, m), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return F.array_distinct(
        F.when(F.size(toks) >= n, sh).otherwise(
            # shorter than n tokens: single shingle of the whole text
            F.when(F.size(toks) > 0, F.array(F.concat_ws(" ", toks))).otherwise(
                F.array().cast("array<string>")
            )
        )
    )


def word_shingles(text_col, n: int = 3):
    """Distinct word n-gram shingles of a text column -> array<string>.

    Convenience wrapper; prefer staging ``tokens(...)`` as its own column
    and calling :func:`shingles_from_tokens` in hot paths (this inline form
    re-tokenizes at every self-reference of the expression).
    """
    return shingles_from_tokens(tokens(text_col), n)


def _shingle_table(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, shingle) exploded distinct shingles.

    Tokenizes ONCE per row into a staged column, then builds + explodes
    the shingle array from the attribute (the shingle expression
    references its input ~n+4 times).

    r9-opt: ``fan_out`` first — the tokenize/shingle/md5 chain is
    pipelined into the SCAN stage, whose parallelism is bounded by the
    source's row groups (a small single-file corpus = ONE task for every
    downstream hash).  The repartition is conditional on the scan being
    narrower than the session's parallelism, i.e. a no-op at cluster
    scale; all consumers aggregate or join by key, so row order is free.
    """
    from polars_grouper_spark.plans.parallelism import fan_out

    staged = fan_out(df.select(F.col(id_col).alias("id"), F.col(text_col))).select(
        "id", tokens(F.col(text_col)).alias("_toks")
    )
    return staged.select(
        "id", F.explode(shingles_from_tokens(F.col("_toks"), n)).alias("shingle")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """Exact word-n-gram Jaccard similar pairs → (id_a, id_b, jaccard).

    ``max_shingle_df`` drops shingles appearing in more than that many
    docs before the self-join (boilerplate shingles dominate cost and
    carry no signal).  ``None`` disables the cap (exact but quadratic in
    the hottest posting list).
    """
    sh = _shingle_table(df, id_col, text_col, n)
    if max_shingle_df is not None:
        keep = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_cnt"))
        sh = sh.join(keep.where(F.col("df_cnt") <= max_shingle_df), "shingle").select(
            "id", "shingle"
        )
    # Attach the doc's shingle count to every posting row, and checkpoint:
    # the table feeds both sides of the self-join — without the checkpoint
    # the tokenize+explode pipeline runs once per use.
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    shz = truncate_lineage(sh.join(sizes, "id"))

    s1 = shz.select(F.col("id").alias("id_a"), "shingle", F.col("sz").alias("sz_a"))
    s2 = shz.select(F.col("id").alias("id_b"), "shingle", F.col("sz").alias("sz_b"))
    # Length-ratio prune: J >= t implies min(sz) >= t * max(sz) (since
    # J <= min/max), so the filter below drops only pairs that cannot pass
    # the threshold — applied BEFORE the pair aggregation it removes the
    # bulk of candidate rows from the shuffle.  Carrying sz_a/sz_b through
    # the grouping keys (functionally dependent on the ids) also removes
    # the two size re-joins after the aggregation.
    inter = (
        s1.join(s2, "shingle")
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("sz_a") >= F.lit(threshold) * F.col("sz_b"))
            & (F.col("sz_b") >= F.lit(threshold) * F.col("sz_a"))
        )
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.select(
            "id_a",
            "id_b",
            (
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= F.lit(threshold))
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signatures → (id, perm, minhash) — ``num_hashes`` rows/doc.

    Linear-combination scheme: one md5 per shingle yields (h1, h2);
    permutation i uses H_i = (h1 + i*h2) mod 2^60 (exact 64-bit-safe
    arithmetic for num_hashes <= 64 — ``hashing.hash_pair64``).  This is
    ~num_hashes× cheaper than hashing per (shingle, permutation) and
    remains reproducible in the SQL oracle.  minhash_i = min over the
    doc's distinct shingles; the aggregation is map-side combinable.
    """
    wide = _minhash_wide(df, id_col, text_col, num_hashes, shingle_n)
    pairs = ", ".join(f"{i}, m{i}" for i in range(num_hashes))
    return wide.selectExpr(
        "id", f"stack({num_hashes}, {pairs}) AS (perm, minhash)"
    )


def _minhash_wide(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    shingle_n: int,
) -> DataFrame:
    """Wide MinHash layout → (id, m0..m{num_hashes-1}) — one row per doc.

    The long (id, perm, minhash) format explodes every shingle
    ``num_hashes``× BEFORE its min-aggregation, so the pre-shuffle stage
    materializes hashes×perms rows and the partial-agg hashmap holds
    (id, perm) keys (guide §2.3: aggregate before you shuffle — and
    don't multiply what you're about to aggregate).  Computing the
    ``num_hashes`` mins as agg COLUMNS of one groupBy(id) keeps the
    pre-shuffle volume at one row per shingle and the shuffle at one
    row per doc; the long format, where needed, is a free ``stack``
    over this frame.  Values are bit-identical (same min over the same
    H_i = (h1 + i*h2) mod 2^60 multiset)."""
    if num_hashes > 64:
        raise ValueError(
            f"num_hashes > 64 risks 64-bit overflow in the hash mix, got {num_hashes}"
        )
    sh = _shingle_table(df, id_col, text_col, shingle_n)
    h1, h2 = hash_pair64(F.col("shingle"))
    hashed = sh.select("id", h1.alias("h1"), h2.alias("h2"))
    return hashed.groupBy("id").agg(
        *[
            F.min(
                F.pmod(F.col("h1") + F.lit(i) * F.col("h2"), F.lit(HASH_SPACE))
            ).alias(f"m{i}")
            for i in range(num_hashes)
        ]
    )


def _band_signatures_wide(
    wide: DataFrame, num_hashes: int, rows_per_band: int
) -> DataFrame:
    """(id, band, bsig) from the wide signature frame — md5 over the
    band's minhashes in perm order (the exact string the SQL oracle
    builds), via one stack instead of a groupBy(id, band) +
    collect_list shuffle."""
    n_bands = num_hashes // rows_per_band
    entries = []
    for b in range(n_bands):
        cols = ", ".join(
            f"cast(m{i} as string)"
            for i in range(b * rows_per_band, (b + 1) * rows_per_band)
        )
        entries.append(f"{b}, md5(concat_ws(',', {cols}))")
    return wide.selectExpr(
        "id", f"stack({n_bands}, {', '.join(entries)}) AS (band, bsig)"
    )


def _est_jaccard_wide(num_hashes: int, a: str = "a", b: str = "b"):
    """Row-wise estimated-Jaccard expression over two aliased wide
    signature frames: fraction of agreeing minhash columns."""
    total = None
    for i in range(num_hashes):
        term = (F.col(f"{a}.m{i}") == F.col(f"{b}.m{i}")).cast("int")
        total = term if total is None else total + term
    return total / F.lit(num_hashes)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs → (id_a, id_b, est_jaccard).

    Pipeline: signatures → band signature strings (rows_per_band hashes
    concatenated) → equality join on (band, signature) → candidate pairs →
    estimated Jaccard = fraction of agreeing minhashes, filtered at
    ``threshold``.  Every join is equality-partitioned; no cross join.
    """
    if num_hashes % bands:
        raise ValueError(
            f"num_hashes must divide evenly into bands, got {num_hashes} and {bands}"
        )
    rows_per_band = num_hashes // bands
    # Checkpoint: the signature frame feeds band hashing AND both sides of
    # the verification join — uncached it would recompute the shingle+hash
    # pipeline three times.  Wide layout: one row per doc, so the band
    # signatures are a stack (no groupBy(id, band) shuffle) and the
    # verification is a row-wise column comparison (no ×num_hashes join).
    wide = truncate_lineage(_minhash_wide(df, id_col, text_col, num_hashes, shingle_n))
    band_sig = _band_signatures_wide(wide, num_hashes, rows_per_band)
    cand = (
        band_sig.alias("x")
        .join(band_sig.alias("y"), ["band", "bsig"])
        .where(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    est = (
        cand.join(wide.alias("a"), F.col("id_a") == F.col("a.id"))
        .join(wide.alias("b"), F.col("id_b") == F.col("b.id"))
        .select(
            "id_a",
            "id_b",
            _est_jaccard_wide(num_hashes).alias("est_jaccard"),
        )
        .where(F.col("est_jaccard") >= F.lit(threshold))
    )
    return est


SIMHASH_BITS = 60  # stays within a non-negative long; matches portable hash width


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Per-document SimHash → (id, simhash long).

    Token-level: each distinct token weighted by its in-doc count votes
    ±weight on each bit of its hash; bit b of the result is 1 iff the
    vote sum is positive.  Row volume is docs × distinct_tokens × bits —
    keep ``bits`` modest (60 default, 32 for huge corpora) or pre-trim
    the vocabulary upstream.
    """
    tok = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    tok = tok.groupBy("id", "tok").agg(F.count(F.lit(1)).alias("w"))
    tok = tok.select("id", "w", portable_hash64(F.col("tok")).alias("h"))
    bit = tok.select(
        "id",
        "w",
        "h",
        F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("b"),
    ).select(
        "id",
        "b",
        F.expr("CASE WHEN (shiftright(h, b) & 1) = 1 THEN w ELSE -w END").alias("vote"),
    )
    return (
        bit.groupBy("id", "b")
        .agg(F.sum("vote").alias("s"))
        .groupBy("id")
        .agg(
            F.sum(
                F.expr(
                    "CASE WHEN s > 0 THEN shiftleft(CAST(1 AS BIGINT), b) "
                    "ELSE CAST(0 AS BIGINT) END"
                )
            ).alias("simhash")
        )
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = SIMHASH_BITS,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-duplicate pairs → (id_a, id_b, hamming).

    Pigeonhole banding: with hamming <= k, two hashes agree exactly on at
    least one of k+1 bit-chunks → equality join per chunk, then exact
    hamming via bit_count(xor).
    """
    sh = simhash(df, id_col, text_col, bits)
    n_chunks = max_hamming + 1
    chunk_bits = bits // n_chunks
    chunks = sh.select(
        "id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(n_chunks - 1))).alias("chunk"),
    ).select(
        "id",
        "simhash",
        "chunk",
        F.expr(
            f"shiftright(simhash, chunk * {chunk_bits}) & {(1 << chunk_bits) - 1}"
        ).alias("ckey"),
    )
    cand = (
        chunks.alias("x")
        .join(chunks.alias("y"), ["chunk", "ckey"])
        .where(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.col("x.simhash").alias("h_a"),
            F.col("y.simhash").alias("h_b"),
        )
        .distinct()
    )
    return cand.select(
        "id_a",
        "id_b",
        F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).cast("int").alias("hamming"),
    ).where(F.col("hamming") <= max_hamming)


def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    sep: str = "\n",
    min_count: int = 2,
    min_line_chars: int = 8,
) -> DataFrame:
    """CCNet-style cross-corpus line deduplication ->
    ``(id, clean_text, n_lines, n_dropped)``.

    Boilerplate (headers, nav bars, cookie banners) repeats verbatim
    across crawled documents; dropping every line that occurs in at
    least ``min_count`` distinct documents removes it corpus-wide (CCNet
    — Wenzek et al. 2020, §4.1 "deduplicating paragraphs").  Lines split
    on ``sep``, compare trimmed, and only lines of at least
    ``min_line_chars`` characters participate (short lines are kept
    as-is — they are too generic to count).  Surviving lines rejoin in
    their original order; a document whose every line is boilerplate
    comes back with ``clean_text = ''``.

    Plan: ONE posexplode pass (checkpointed — the exploded line table
    feeds both the duplicate count and the reassembly, and re-splitting
    a 100 TB corpus per consumer would triple the scan), one
    map-side-combinable distinct-doc count over trimmed lines, one
    left join back, and one merged per-doc aggregation that computes
    the reassembled text, the line total, and the drop count together —
    every shuffle equality-keyed on the line or the doc id, nothing
    driver-sized.
    """
    import re as _re

    # Spark's split() takes a regex while DuckDB's string_split is literal
    # — escape so both engines split on the literal separator.
    lines = truncate_lineage(
        df.select(
            F.col(id_col).alias("id"),
            F.posexplode(F.split(F.col(text_col), _re.escape(sep), -1)).alias(
                "pos", "line"
            ),
        ).withColumn("norm", F.trim("line"))
    )
    dup = (
        lines.where(F.length("norm") >= min_line_chars)
        .groupBy("norm")
        .agg(F.count_distinct("id").alias("n_docs"))
        .where(F.col("n_docs") >= min_count)
        .select("norm", F.lit(True).alias("_dup"))
    )
    flagged = lines.join(dup, "norm", "left")
    keep_struct = F.when(
        F.col("_dup").isNull(), F.struct("pos", "line")
    )  # collect_list skips nulls: dropped lines vanish from the rebuild
    return flagged.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(keep_struct)), lambda s: s["line"]
            ),
            sep,
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("_dup").isNotNull().cast("long")).alias("n_dropped"),
    ).select("id", "clean_text", "n_lines", "n_dropped")


def line_dedup_sql(
    table: str = "documents",
    id_expr: str = "doc_id",
    text_expr: str = "text",
    *,
    sep: str = "\n",
    min_count: int = 2,
    min_line_chars: int = 8,
) -> str:
    """DuckDB oracle replaying :func:`line_dedup` (parallel unnests zip)."""
    sep_sql = sep.replace("'", "''")
    return f"""
WITH lines AS (
  SELECT {id_expr} AS id,
         unnest(range(len(string_split({text_expr}, '{sep_sql}')))) AS pos,
         unnest(string_split({text_expr}, '{sep_sql}')) AS line
  FROM {table}
),
dup AS (
  SELECT trim(line) AS norm
  FROM lines WHERE length(trim(line)) >= {min_line_chars}
  GROUP BY 1 HAVING count(DISTINCT id) >= {min_count}
),
kept AS (
  SELECT l.id, l.pos, l.line
  FROM lines l LEFT JOIN dup d ON trim(l.line) = d.norm
  WHERE d.norm IS NULL
),
re AS (
  SELECT id, string_agg(line, '{sep_sql}' ORDER BY pos) AS clean_text,
         count(*)::BIGINT AS n_kept
  FROM kept GROUP BY id
),
tot AS (SELECT id, count(*)::BIGINT AS n_lines FROM lines GROUP BY id)
SELECT t.id, coalesce(r.clean_text, '') AS clean_text, t.n_lines,
       (t.n_lines - coalesce(r.n_kept, 0))::BIGINT AS n_dropped
FROM tot t LEFT JOIN re r ON r.id = t.id
"""


def ngram_contamination(
    train: DataFrame,
    test: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n: int = 8,
) -> DataFrame:
    """Train/test n-gram contamination check ->
    ``(id, n_ngrams, n_contaminated, contamination_ratio)`` per TEST doc.

    Benchmark leakage detection (GPT-3 appendix C; PaLM/Llama eval
    decontamination): a test document is contaminated to the extent its
    word ``n``-grams also occur anywhere in the training corpus.  Both
    sides shingle with the same zip-with builder as the Jaccard dedup,
    reduce each distinct shingle to its portable 60-bit hash, and meet in
    ONE equality join on the hash — the train side is a distinct hash set
    (never the documents themselves), so at 100 TB this is a
    hash-partitioned semi-join, not a text comparison.  Ratios round to
    6 decimals.
    """
    tr = (
        _shingle_table(train, id_col, text_col, n)
        .select(portable_hash64("shingle").alias("g"))
        .distinct()
    )
    te = _shingle_table(test, id_col, text_col, n).select(
        "id", portable_hash64("shingle").alias("g")
    )
    hits = te.join(tr, "g", "semi").groupBy("id").agg(
        F.count(F.lit(1)).alias("n_contaminated")
    )
    totals = te.groupBy("id").agg(F.count(F.lit(1)).alias("n_ngrams"))
    return totals.join(hits, "id", "left").select(
        "id",
        "n_ngrams",
        F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
        F.round(
            F.coalesce("n_contaminated", F.lit(0)) / F.col("n_ngrams"), 6
        ).alias("contamination_ratio"),
    )


def dedup_against_corpus(
    batch: DataFrame = None,
    corpus: DataFrame = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
    source: DataFrame = None,
    batch_pred=None,
) -> DataFrame:
    """Incremental dedup: flag each BATCH document against an existing
    CORPUS -> ``(id, exact_dup_of, near_dup_of, near_est)``.

    The production crawl pattern: today's batch is checked against the
    historical index, never against itself, and the corpus is touched
    only through its (re-usable) signature table.  Two matchers:

    - exact: text-equality join against the corpus (match = min corpus
      id, hash-partitioned on the text key);
    - near: MinHash band signatures on BOTH sides, candidates from the
      (band, bsig) equality join across sides only, estimated Jaccard
      verified at ``threshold``, best match per batch doc (highest
      estimate, then smallest corpus id).

    Every join is equality-keyed; candidate volume is bounded by band
    collisions exactly as in :func:`minhash_lsh_pairs`.  A batch doc with
    no match reports nulls in both match columns.

    ``source``/``batch_pred`` (round-9 optimization): when today's batch
    and the corpus are complementary slices of ONE frame (the crawl
    pattern: split on the id), pass the common frame as ``source`` and a
    callable ``batch_pred(id_column) -> boolean Column``; ``batch`` /
    ``corpus`` are then derived internally and — the point — the MinHash
    signature pass (tokenize → shingle → hash → per-doc min aggregation,
    the expensive leg) runs ONCE over ``source`` and is split by the
    predicate afterwards, instead of twice over two filtered scans.
    Per-doc signatures are independent, so the split frames are
    value-identical to two separate passes.  Rows where the predicate is
    NULL belong to neither side (exactly as if the caller had filtered).
    """
    if num_hashes % bands:
        raise ValueError(
            f"num_hashes must divide evenly into bands, got {num_hashes} and {bands}"
        )
    rows_per_band = num_hashes // bands
    if source is not None:
        if batch_pred is None or batch is not None or corpus is not None:
            raise ValueError(
                "pass either (batch, corpus) or (source, batch_pred), not both"
            )
        batch = source.where(batch_pred(F.col(id_col)))
        corpus = source.where(~batch_pred(F.col(id_col)))

    b_ids = batch.select(
        F.col(id_col).cast("string").alias("id"), F.col(text_col).alias("_bt")
    )
    exact = (
        corpus.select(
            F.col(text_col).alias("_bt"),
            F.col(id_col).cast("string").alias("_cid"),
        )
        .groupBy("_bt")
        .agg(F.min("_cid").alias("exact_dup_of"))
    )
    with_exact = b_ids.join(exact, "_bt", "left").select("id", "exact_dup_of")

    if source is not None:
        sig_all = truncate_lineage(
            _minhash_wide(source, id_col, text_col, num_hashes, shingle_n)
        )
        sig_b = sig_all.where(batch_pred(F.col("id")))
        sig_c = sig_all.where(~batch_pred(F.col("id")))
    else:
        sig_b = truncate_lineage(
            _minhash_wide(batch, id_col, text_col, num_hashes, shingle_n)
        )
        sig_c = truncate_lineage(
            _minhash_wide(corpus, id_col, text_col, num_hashes, shingle_n)
        )
    bands_b = _band_signatures_wide(sig_b, num_hashes, rows_per_band)
    bands_c = _band_signatures_wide(sig_c, num_hashes, rows_per_band)
    cand = (
        bands_b.select(F.col("id").alias("bid"), "band", "bsig")
        .join(bands_c.select(F.col("id").alias("cid"), "band", "bsig"), ["band", "bsig"])
        .select("bid", "cid")
        .distinct()
    )
    est = (
        cand.join(sig_b.alias("a"), F.col("bid") == F.col("a.id"))
        .join(sig_c.alias("b"), F.col("cid") == F.col("b.id"))
        .select("bid", "cid", _est_jaccard_wide(num_hashes).alias("est"))
        .where(F.col("est") >= F.lit(threshold))
    )
    # tie-break on the STRING form of the corpus id (ids may arrive as
    # longs; the oracle compares VARCHARs, and '113' < '72' as strings)
    w = Window.partitionBy("bid").orderBy(
        F.col("est").desc(), F.col("cid").cast("string").asc()
    )
    best = (
        est.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            F.col("bid").cast("string").alias("id"),
            F.col("cid").cast("string").alias("near_dup_of"),
            F.round("est", 6).alias("near_est"),
        )
    )
    return with_exact.join(best, "id", "left").select(
        "id", "exact_dup_of", "near_dup_of", "near_est"
    )


def jaccard_threshold_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    t_num: int = 7,
    t_den: int = 10,
) -> DataFrame:
    """EXACT token-set Jaccard join (PPJoin-style prefix filtering,
    Xiao et al. 2008) -> ``(id_a, id_b, inter, uni, jaccard)`` for every
    DISTINCT doc pair with ``|A∩B| / |A∪B| >= t_num/t_den`` — no
    recall loss, unlike the MinHash path.

    The prefix-filter theorem makes this shuffle-bounded: order each
    doc's tokens globally by (document frequency, token) — rarest first
    — and keep only the first ``n - ceil(t·n) + 1`` as the doc's
    PREFIX.  Two docs at Jaccard >= t MUST share a prefix token, so
    candidates come from an equality join on PREFIX tokens only (the
    hot common tokens sit at the ends of the ordering and never join),
    plus the length filter ``t·max(|A|,|B|) <= min(|A|,|B|)``.
    Verification counts the true intersection on candidate pairs only;
    the threshold test is the integer cross-product
    ``(t_den + t_num)·inter >= t_num·(|A| + |B|)`` — no float decides
    membership.  ``jaccard`` is a display-rounded division.

    At 100 TB every stage is an equality join or map-side-combinable
    count; the prefix trick is the df-cap idea (``max_shingle_df``)
    made LOSSLESS — rare-token posting lists drive candidates, frequent
    tokens never explode."""
    if not (0 < t_num <= t_den):
        raise ValueError(f"need 0 < t_num <= t_den, got {t_num}/{t_den}")
    # The (doc, token) table feeds several consumers (sizes, ranking,
    # verification probe sides) — materialize once so the corpus scan +
    # explode doesn't recompute per reference.
    toks = truncate_lineage(
        df.where(F.col(id_col).isNotNull() & F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("doc"),
            F.explode(
                F.array_distinct(
                    F.split(F.lower(F.col(text_col)), r"\s+", -1)
                )
            ).alias("token"),
        )
        .where(F.col("token") != "")
    )
    sizes = toks.groupBy("doc").agg(F.count(F.lit(1)).alias("n"))
    dfreq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        toks.join(dfreq, "token")
        .join(sizes, "doc")
        .select(
            "doc",
            "token",
            "n",
            F.row_number()
            .over(Window.partitionBy("doc").orderBy("df", "token"))
            .alias("rn"),
        )
    )
    # prefix length = n - ceil(t*n) + 1, all-integer ceil
    prefix_len = F.col("n") - F.floor(
        (F.lit(t_num) * F.col("n") + F.lit(t_den - 1)) / F.lit(t_den)
    ) + 1
    prefix = truncate_lineage(
        ranked.where(F.col("rn") <= prefix_len).select("doc", "token", "n")
    )
    cand = (
        prefix.select(F.col("doc").alias("id_a"), "token", F.col("n").alias("na"))
        .join(
            prefix.select(
                F.col("doc").alias("id_b"), "token", F.col("n").alias("nb")
            ),
            "token",
        )
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (
                F.lit(t_num) * F.greatest("na", "nb")
                <= F.lit(t_den) * F.least("na", "nb")
            )
        )
        .select("id_a", "id_b", "na", "nb")
        .distinct()
    )
    # intersection: candidate x |A| rows equality-probe the (doc, token)
    # table on the COMPOSITE key — joining on id_b alone would fan every
    # candidate out to |A| x |B| rows before filtering
    inter = (
        cand.join(toks.select(F.col("doc").alias("id_a"), "token"), "id_a")
        .join(
            toks.select(F.col("doc").alias("id_b"), "token"),
            ["id_b", "token"],
        )
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.where(
            F.lit(t_den + t_num) * F.col("inter")
            >= F.lit(t_num) * (F.col("na") + F.col("nb"))
        )
        .select(
            "id_a",
            "id_b",
            "inter",
            (F.col("na") + F.col("nb") - F.col("inter")).alias("uni"),
            F.round(
                F.col("inter")
                / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


def jaccard_threshold_join_sql(
    table_sql: str,
    id_expr: str,
    text_expr: str,
    *,
    t_num: int = 7,
    t_den: int = 10,
) -> str:
    """DuckDB oracle for :func:`jaccard_threshold_join` — brute-force
    ALL-pairs exact Jaccard (no prefix logic), which is precisely what
    makes it a strong oracle: the prefix filter must be lossless."""
    return f"""
WITH src AS ({table_sql}),
toks AS (
  SELECT DISTINCT {id_expr} AS doc, t.token
  FROM src, unnest(list_distinct(string_split_regex(lower({text_expr}), '\\s+'))) AS t(token)
  WHERE {id_expr} IS NOT NULL AND {text_expr} IS NOT NULL AND t.token <> ''
),
sizes AS (SELECT doc, count(*) AS n FROM toks GROUP BY doc),
inter AS (
  SELECT a.doc AS id_a, b.doc AS id_b, count(*) AS inter
  FROM toks a JOIN toks b ON a.token = b.token AND a.doc < b.doc
  GROUP BY a.doc, b.doc
)
SELECT i.id_a, i.id_b, i.inter,
       (sa.n + sb.n - i.inter) AS uni,
       round(i.inter / CAST(sa.n + sb.n - i.inter AS DOUBLE), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc = i.id_a
JOIN sizes sb ON sb.doc = i.id_b
WHERE ({t_den + t_num}) * i.inter >= {t_num} * (sa.n + sb.n)
"""


def containment_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    t_num: int = 9,
    t_den: int = 10,
) -> DataFrame:
    """EXACT token-set containment join (the asymmetric PPJoin variant)
    -> ``(id_a, id_b, inter, containment)`` for every ORDERED pair with
    ``|A ∩ B| / |A| >= t_num/t_den`` — "doc A is mostly contained in
    doc B": quote detection, boilerplate-subset discovery, near-subset
    dedup where Jaccard misses small-in-large pairs.

    Prefix filtering adapts to the asymmetric threshold: a qualifying A
    must share one of its first ``|A| - ceil(t·|A|) + 1`` rarest tokens
    with B, but B is unbounded, so candidates come from A-PREFIX tokens
    joined against B's FULL token table (still df-ordered, so frequent
    tokens never drive candidates from the A side).  The threshold test
    is the integer cross-product ``t_den·inter >= t_num·|A|``.  Output
    excludes self-pairs; A == B duplicates appear in both directions by
    construction (containment is directional)."""
    if not (0 < t_num <= t_den):
        raise ValueError(f"need 0 < t_num <= t_den, got {t_num}/{t_den}")
    # The (doc, token) table feeds several consumers (sizes, ranking,
    # verification probe sides) — materialize once so the corpus scan +
    # explode doesn't recompute per reference.
    toks = truncate_lineage(
        df.where(F.col(id_col).isNotNull() & F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("doc"),
            F.explode(
                F.array_distinct(
                    F.split(F.lower(F.col(text_col)), r"\s+", -1)
                )
            ).alias("token"),
        )
        .where(F.col("token") != "")
    )
    sizes = toks.groupBy("doc").agg(F.count(F.lit(1)).alias("n"))
    dfreq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        toks.join(dfreq, "token")
        .join(sizes, "doc")
        .select(
            "doc",
            "token",
            "n",
            F.row_number()
            .over(Window.partitionBy("doc").orderBy("df", "token"))
            .alias("rn"),
        )
    )
    prefix_len = F.col("n") - F.floor(
        (F.lit(t_num) * F.col("n") + F.lit(t_den - 1)) / F.lit(t_den)
    ) + 1
    prefix = ranked.where(F.col("rn") <= prefix_len).select(
        F.col("doc").alias("id_a"), "token", F.col("n").alias("na")
    )
    cand = (
        prefix.join(
            toks.select(F.col("doc").alias("id_b"), "token"), "token"
        )
        .where(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b", "na")
        .distinct()
    )
    inter = (
        cand.join(toks.select(F.col("doc").alias("id_a"), "token"), "id_a")
        .join(
            toks.select(F.col("doc").alias("id_b"), "token"),
            ["id_b", "token"],
        )
        .groupBy("id_a", "id_b", "na")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.where(F.lit(t_den) * F.col("inter") >= F.lit(t_num) * F.col("na"))
        .select(
            "id_a",
            "id_b",
            "inter",
            F.round(F.col("inter") / F.col("na").cast("double"), 6).alias(
                "containment"
            ),
        )
    )


def containment_join_sql(
    table_sql: str,
    id_expr: str,
    text_expr: str,
    *,
    t_num: int = 9,
    t_den: int = 10,
) -> str:
    """DuckDB oracle for :func:`containment_join` — brute-force all
    ordered pairs, no prefix logic (losslessness is the claim)."""
    return f"""
WITH src AS ({table_sql}),
toks AS (
  SELECT DISTINCT {id_expr} AS doc, t.token
  FROM src, unnest(list_distinct(string_split_regex(lower({text_expr}), '\\s+'))) AS t(token)
  WHERE {id_expr} IS NOT NULL AND {text_expr} IS NOT NULL AND t.token <> ''
),
sizes AS (SELECT doc, count(*) AS n FROM toks GROUP BY doc),
inter AS (
  SELECT a.doc AS id_a, b.doc AS id_b, count(*) AS inter
  FROM toks a JOIN toks b ON a.token = b.token AND a.doc <> b.doc
  GROUP BY a.doc, b.doc
)
SELECT i.id_a, i.id_b, i.inter,
       round(i.inter / CAST(sa.n AS DOUBLE), 6) AS containment
FROM inter i JOIN sizes sa ON sa.doc = i.id_a
WHERE {t_den} * i.inter >= {t_num} * sa.n
"""

def dup_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    window: int = 40,
    stride: int = 10,
) -> DataFrame:
    """Cross-document duplicated-SPAN measurement — the distributable
    approximation of suffix-array exact-substring dedup (Lee et al.
    2021, "Deduplicating Training Data Makes Language Models Better"):
    slide a ``window``-char window at ``stride`` over each document,
    hash every window, and flag the positions whose window text occurs
    in at least one OTHER document -> ``(id, n_windows, n_dup_windows,
    dup_fraction)`` for every document long enough to hold one window.

    Spans shared verbatim across documents (boilerplate, licenses,
    templated headers) are exactly what inflates LM memorization; the
    fraction is the per-document trim/keep signal.  A true suffix array
    is a GLOBAL sequential structure that does not distribute; strided
    fixed windows recover its cross-doc duplicate detection for spans
    >= window + stride - 1 chars with two shuffles:

    1. windows -> groupBy(hash): cross-doc sharing decided by
       ``min(doc) != max(doc)`` — exact, map-side combinable, and never
       a count-distinct;
    2. windows ⋈ shared-hash set (semi join on the 60-bit hash — the
       shuffle carries longs, never the window text), then one per-doc
       count.

    Within-document repeats do NOT count as duplication (that signal is
    ``doc_repetition``); hash collisions can over-flag a span at ~2^-60
    per pair — the standard fingerprinting trade.
    """
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    if stride < 1:
        raise ValueError(f"stride must be >= 1, got {stride}")
    i, t = F.col(id_col), F.col(text_col)
    base = df.where(
        i.isNotNull() & t.isNotNull() & (F.length(t) >= window)
    ).select(i.alias("id"), t.alias("_txt"))
    # The (id, hash) window table feeds THREE consumers (sharing test,
    # per-doc totals, flag-back); materialize it once — ~16 B/window of
    # executor-local storage vs three full re-scans + re-hashes of the
    # corpus (plan-asserted: zero source re-reads).
    wins = truncate_lineage(
        base.select(
            "id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, length(_txt) - {window - 1}, {stride}),"
                    f" p -> substring(_txt, p, {window}))"
                )
            ).alias("_win"),
        ).select("id", portable_hash64(F.col("_win")).alias("h"))
    )
    shared = (
        wins.groupBy("h")
        .agg(F.min("id").alias("_mn"), F.max("id").alias("_mx"))
        .where(F.col("_mn") != F.col("_mx"))
        .select("h")
    )
    n_win = wins.groupBy("id").agg(F.count(F.lit(1)).alias("n_windows"))
    n_dup = (
        wins.join(shared, "h", "left_semi")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_dup_windows"))
    )
    return (
        n_win.join(n_dup, "id", "left")
        .select(
            "id",
            "n_windows",
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.round(
                F.coalesce("n_dup_windows", F.lit(0)) / F.col("n_windows"), 6
            ).alias("dup_fraction"),
        )
    )


def dup_spans_sql(
    table_sql: str,
    id_expr: str,
    text_expr: str,
    *,
    window: int = 40,
    stride: int = 10,
) -> str:
    """DuckDB oracle replaying :func:`dup_spans` hash for hash."""
    h = portable_hash64_sql("win")
    return f"""
WITH src AS (
  SELECT {id_expr} AS id, {text_expr} AS txt FROM ({table_sql})
  WHERE {id_expr} IS NOT NULL AND {text_expr} IS NOT NULL
    AND len({text_expr}) >= {window}
),
wins AS (
  SELECT id, {h} AS h FROM (
    SELECT id, substr(txt, CAST(p AS INT), {window}) AS win
    FROM src, unnest(range(1, len(txt) - {window - 1} + 1, {stride})) AS t(p)
  )
),
shared AS (
  SELECT h FROM wins GROUP BY h HAVING min(id) <> max(id)
),
n_win AS (SELECT id, count(*)::BIGINT AS n_windows FROM wins GROUP BY id),
n_dup AS (
  SELECT id, count(*)::BIGINT AS n_dup_windows
  FROM wins SEMI JOIN shared USING (h) GROUP BY id
)
SELECT w.id, w.n_windows,
       coalesce(d.n_dup_windows, 0)::BIGINT AS n_dup_windows,
       round(coalesce(d.n_dup_windows, 0) / w.n_windows, 6) AS dup_fraction
FROM n_win w LEFT JOIN n_dup d USING (id)
"""


def group_minhash_similarity(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """Corpus-level similarity between GROUPS of documents (sources,
    domains, snapshots, languages) -> ``(group_a, group_b,
    est_jaccard)`` for every group pair — WITHOUT comparing any two
    documents.

    MinHash is a union-homomorphism: the signature of a union of sets is
    the element-wise min of signatures, so a whole group's shingle-set
    signature comes out of the SAME one-pass aggregation as a per-doc
    signature, just grouped by the group key (map-side combinable; the
    corpus reduces to groups × num_hashes rows of state).  Pairwise
    estimated Jaccard between group vocabularies is then the agreeing-
    permutation fraction over metadata — the data is scanned ONCE no
    matter how many groups or pairs.

    This answers "how much does crawl-B overlap crawl-A?" /
    "which sources are near-mirrors?" at 100 TB for the cost of one
    shingle scan.  The pair join is all-pairs over GROUPS (g²·H rows);
    for g beyond ~10³, band the group signatures through
    :func:`minhash_lsh_pairs`'s LSH instead of enumerating pairs."""
    if num_hashes > 64:
        raise ValueError(
            f"num_hashes > 64 risks 64-bit overflow in the hash mix, got {num_hashes}"
        )
    sh = _shingle_table(df, group_col, text_col, shingle_n)
    h1, h2 = hash_pair64(F.col("shingle"))
    hashed = (
        sh.select("id", h1.alias("h1"), h2.alias("h2"))
        .select(
            "id",
            "h1",
            "h2",
            F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1))).alias("perm"),
        )
        .select(
            "id",
            "perm",
            F.pmod(F.col("h1") + F.col("perm") * F.col("h2"), F.lit(HASH_SPACE)).alias(
                "h"
            ),
        )
    )
    sig = hashed.groupBy("id", "perm").agg(F.min("h").alias("minhash"))
    a = sig.select(
        F.col("id").alias("group_a"), "perm", F.col("minhash").alias("mh_a")
    )
    b = sig.select(
        F.col("id").alias("group_b"), "perm", F.col("minhash").alias("mh_b")
    )
    return (
        a.join(b, "perm")
        .where(F.col("group_a") < F.col("group_b"))
        .groupBy("group_a", "group_b")
        .agg(
            F.round(
                F.sum((F.col("mh_a") == F.col("mh_b")).cast("int"))
                / F.lit(num_hashes),
                6,
            ).alias("est_jaccard")
        )
    )


def group_minhash_similarity_sql(
    src_sql: str,
    group_expr: str,
    text_expr: str = "text",
    num_hashes: int = 32,
    shingle_n: int = 3,
) -> str:
    """DuckDB oracle for :func:`group_minhash_similarity` — identical
    tokenization, shingling, hash mix, and agreement fraction."""
    h1, h2 = hash_pair64_sql("shingle")
    return f"""
WITH sh AS (
  SELECT id, unnest(list_distinct(
    CASE WHEN len(toks) >= {shingle_n}
         THEN list_transform(range(1, len(toks) - {shingle_n} + 2),
                             i -> array_to_string(toks[i : i + {shingle_n} - 1], ' '))
         WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
         ELSE [] END)) AS shingle
  FROM (
    SELECT {group_expr} AS id,
           list_filter(string_split_regex(trim({text_expr}), '\\s+'), x -> x <> '') AS toks
    FROM ({src_sql})
  )
),
hp AS (SELECT id, {h1} AS h1, {h2} AS h2 FROM sh),
sig AS (
  SELECT id, perm, min((h1 + perm * h2) % {1 << 60}) AS minhash
  FROM hp, range({num_hashes}) r(perm)
  GROUP BY id, perm
)
SELECT a.id AS group_a, b.id AS group_b,
       round(sum(CASE WHEN a.minhash = b.minhash THEN 1 ELSE 0 END)
             / {num_hashes}.0, 6) AS est_jaccard
FROM sig a JOIN sig b ON b.perm = a.perm AND a.id < b.id
GROUP BY 1, 2
"""


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003,
    the MOSS algorithm) -> ``(doc_id, n_fingerprints, fp_xor)``: hash
    every character ``k``-gram, slide a ``w``-window over the hash
    sequence, keep each window's minimum — guaranteeing any shared
    substring of length >= ``w + k - 1`` contributes a shared
    fingerprint (the local-selection property plain min-hash sampling
    lacks).  The per-doc selected-hash SET is summarized as (count,
    bit_xor) so output stays one row per document regardless of length.

    Plan: positions explode per document (the inherent O(L) of any
    k-gram method), the window min is a per-doc frame over the position
    order, selection dedups per doc — one shuffle on the doc key."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    if w < 1:
        raise ValueError(f"w must be >= 1, got {w}")
    from pyspark.sql import Window
    from .hashing import portable_hash64

    src = df.where(
        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
    ).select(
        F.col(id_col).alias("doc"), F.col(text_col).alias("_t")
    )
    grams = src.where(F.length("_t") >= k).select(
        "doc",
        F.posexplode(
            F.sequence(F.lit(1), F.length("_t") - F.lit(k) + 1)
        ).alias("_", "pos"),
        F.col("_t"),
    ).select(
        "doc",
        "pos",
        portable_hash64(F.substring(F.col("_t"), F.col("pos"), k)).alias("h"),
    )
    win = (
        Window.partitionBy("doc")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    n_grams = Window.partitionBy("doc")
    mins = grams.select(
        "doc",
        "pos",
        F.min("h").over(win).alias("wm"),
        F.count(F.lit(1)).over(n_grams).alias("_n"),
    ).where(F.col("pos") <= F.col("_n") - F.lit(w) + 1)
    sel = mins.select("doc", "wm").distinct()
    return sel.groupBy(F.col("doc").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_fingerprints"),
        F.bit_xor("wm").alias("fp_xor"),
    )


def winnow_fingerprints_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k: int = 8,
    w: int = 4,
) -> str:
    """DuckDB oracle for :func:`winnow_fingerprints`."""
    from .hashing import portable_hash64_sql

    h = portable_hash64_sql(f"substr(t, CAST(u.p AS INT), {k})")
    return f"""
WITH src AS (
  SELECT {id_col} AS doc, {text_col} AS t FROM {table}
  WHERE {id_col} IS NOT NULL AND {text_col} IS NOT NULL
    AND length({text_col}) >= {k}
),
grams AS (
  SELECT doc, CAST(u.p AS INT) AS pos, {h} AS h
  FROM src, unnest(range(1, length(t) - {k} + 2)) AS u(p)
),
mins AS (
  SELECT doc, pos,
         min(h) OVER (PARTITION BY doc ORDER BY pos
           ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS wm,
         count(*) OVER (PARTITION BY doc) AS n
  FROM grams
),
sel AS (
  SELECT DISTINCT doc, wm FROM mins WHERE pos <= n - {w} + 1
)
SELECT doc AS doc_id, count(*) AS n_fingerprints,
       bit_xor(wm) AS fp_xor
FROM sel GROUP BY doc
"""
