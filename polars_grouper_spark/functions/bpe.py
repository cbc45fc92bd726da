"""Distributed BPE tokenizer training (Sennrich et al. 2016).

The tokenizer-training half of an LLM data pipeline: learn the
most-frequent-symbol-pair merges from the corpus itself.  The classic
algorithm is a sequential loop over a Python dict; the Spark-first
reshape exploits that after ONE corpus scan, everything operates on the
VOCABULARY (distinct words + counts) — metadata next to the corpus —
so each merge round is a vocab-local aggregation, not a corpus pass:

1. One scan: tokenize, group words, count — the only data-sized step.
   Each word becomes a symbol string ``"·h ·e ·l ·l ·o "`` (every
   symbol sentinel-prefixed with ``·`` and space-terminated).
2. Per round: adjacent-pair counts weighted by word frequency
   (map-side-combinable sum over the vocab), top-1 by
   ``(count desc, pair asc)`` — a 1-row TakeOrdered collect, the same
   bounded-metadata driver loop as Lloyd's centroids — then ONE
   ``replace`` over the vocab's symbol strings.

Greedy left-to-right non-overlapping merge semantics come FOR FREE
from string ``replace``: the search pattern ``"<left> <right> "`` is
anchored at symbol starts by the sentinel and consumed left-to-right,
which is exactly BPE's merge rule (``"·a ·a ·a "`` merging (·a,·a)
yields ``"·aa ·a "``).  Both engines' ``replace`` share this contract,
which is what makes the SQL oracle possible.

At 100 TB: the corpus scan dominates; vocab rounds are free by
comparison.  (Production BPE trainers count pairs on a corpus sample
for the same reason — pass a sampled ``df`` if even one scan is too
much.)  Words containing the sentinel character are dropped (they
would break symbol-boundary anchoring); real corpora don't contain
U+00B7 in words.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polars_grouper_spark.plans.tiering import resolve_max_local_edges, tier_gate

from .text import tokens

SENTINEL = "·"  # ·

_MERGES_SCHEMA = "merge_idx int, lhs string, rhs string, merged string, pair_count long"


def _word_symbols(df: DataFrame, text_col: str) -> DataFrame:
    """One corpus scan -> vocabulary ``(s string, n long)`` where ``s``
    is the sentinel-prefixed space-terminated symbol string.

    r9-opt (guide §2.3 "aggregate before you shuffle"): words are
    counted FIRST and the per-character symbol split (a regex match per
    character — the heavy expression) runs once per DISTINCT word
    instead of once per occurrence.  The symbol string is an injective
    function of the word, so grouping by word then mapping is identical
    to grouping by the mapped symbol (measured at sf0.1: 270k
    occurrence-level regex evaluations -> 31 vocab-level ones)."""
    words = df.select(F.explode(tokens(F.col(text_col))).alias("w"))
    counts = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(~F.col("w").contains(SENTINEL))
    )
    sym = F.concat(
        F.array_join(
            F.transform(
                F.expr("regexp_extract_all(w, '.', 0)"),
                lambda ch: F.concat(F.lit(SENTINEL), ch),
            ),
            " ",
        ),
        F.lit(" "),
    )
    return counts.select(sym.alias("s"), "n")


def _train_local(rows: "list[tuple[str, int]]", n_merges: int):
    """Driver-local merge loop over collected vocab rows ``(s, n)``.

    Bit-identical to the distributed loop: pair counts are integer sums
    (order-free), the top pair breaks ties by ``(l, r)`` ascending
    (Python tuple compare on strings == Spark's UTF8 string ordering for
    any code points — UTF-8 byte order preserves code-point order), and
    ``str.replace`` shares the left-to-right non-overlapping contract of
    Spark's ``F.replace``.  Returns ``(merges, final_vocab_rows)``.
    """
    vocab = list(rows)
    merges = []
    for i in range(n_merges):
        counts: "dict[tuple[str, str], int]" = {}
        for s, n in vocab:
            syms = [t for t in s.split(" ") if t]
            for pair in zip(syms, syms[1:]):
                counts[pair] = counts.get(pair, 0) + n
        if not counts:
            break
        (lhs, rhs), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merged = lhs + rhs[1:]  # strip the right symbol's sentinel
        merges.append((i + 1, lhs, rhs, merged, cnt))
        pat, rep = f"{lhs} {rhs} ", f"{merged} "
        vocab = [(s.replace(pat, rep), n) for s, n in vocab]
    return merges, vocab


def _train(
    df: DataFrame,
    text_col: str,
    n_merges: int,
    max_local_vocab: "int | None",
):
    """Shared train core -> ``(merges, final_vocab)`` where
    ``final_vocab`` is a list of ``(s, n)`` rows (local tier) or a
    DataFrame with the merge chain applied (distributed tier).

    Two-tier (repo-wide posture): the corpus scan that builds the
    vocabulary is always distributed — it is the only data-sized step —
    but the merge rounds operate on the VOCABULARY (distinct words),
    metadata next to the corpus.  Under the guard
    (``spark.polars_grouper.maxLocalEdges`` session conf / 2M rows
    default) the rounds run driver-local: 2·n_merges Spark jobs of pure
    scheduling overhead collapse into one Arrow collect (measured at
    sf0.1: 3.0 s -> 1.1 s for 8 merges).  Larger vocabularies run the
    unchanged distributed fixpoint.
    """
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    vocab = _word_symbols(df, text_col)
    # The vocab feeds every round (or the local collect); the gate
    # materializes it once (vocab-sized) and counts it in the same job.
    guard = resolve_max_local_edges(df.sparkSession, max_local_vocab)
    vocab, pdf = tier_gate(vocab, guard)
    if pdf is not None:
        return _train_local(
            list(zip(pdf["s"].tolist(), (int(x) for x in pdf["n"]))), n_merges
        )
    merges = []
    for i in range(n_merges):
        arr = F.filter(F.split("s", " "), lambda t: t != F.lit(""))
        sz = F.size(arr)
        pairs = vocab.select(
            F.explode(
                F.arrays_zip(
                    F.slice(arr, 1, sz - 1).alias("l"),
                    F.slice(arr, 2, sz - 1).alias("r"),
                )
            ).alias("p"),
            "n",
        ).select(F.col("p.l").alias("l"), F.col("p.r").alias("r"), "n")
        top = (
            pairs.groupBy("l", "r")
            .agg(F.sum("n").alias("c"))
            .orderBy(F.col("c").desc(), "l", "r")
            .limit(1)
            .collect()
        )
        if not top:
            break
        lhs, rhs, cnt = top[0]["l"], top[0]["r"], top[0]["c"]
        merged = lhs + rhs[1:]  # strip the right symbol's sentinel
        merges.append((i + 1, lhs, rhs, merged, cnt))
        vocab = vocab.select(
            F.replace(
                F.col("s"),
                F.lit(f"{lhs} {rhs} "),
                F.lit(f"{merged} "),
            ).alias("s"),
            "n",
        ).localCheckpoint(eager=True)
    return merges, vocab


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    max_local_vocab: "int | None" = None,
) -> DataFrame:
    """Learn ``n_merges`` BPE merges -> ``(merge_idx, left, right,
    merged, pair_count)`` rows in merge order (symbols carry the ``·``
    sentinel on their first character).

    Deterministic: ties break by ``(left, right)`` ascending, so the
    learned tokenizer is bit-identical on any engine or partitioning.
    Stops early if no adjacent pair remains.

    ``max_local_vocab`` guards the driver-local merge-round tier
    (``None`` defers to the session conf; 0 forces the distributed
    loop); either tier returns bit-identical merges."""
    merges, _ = _train(df, text_col, n_merges, max_local_vocab)
    # n_merges rows: parallelize into ONE slice up front — the default
    # slices the handful of rows defaultParallelism ways, and a
    # coalesce(1) would serialize one Python-worker round-trip PER
    # empty parent slice inside a single task (measured: 5 s for 8
    # rows at 32 slices).
    spark = df.sparkSession
    return spark.createDataFrame(
        spark.sparkContext.parallelize(merges, 1), _MERGES_SCHEMA
    )


def bpe_token_counts(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    max_local_vocab: "int | None" = None,
) -> DataFrame:
    """Train ``n_merges`` BPE merges, then corpus-wide token counts of
    the trained tokenizer -> ``(token string, n_occ long)`` with
    sentinels stripped.

    Identical output to ``bpe_apply`` + explode + count over every
    document, WITHOUT re-scanning the corpus: words encode
    independently, so corpus token counts are the final vocabulary
    state's symbols weighted by word count (token_counts =
    Σ_words n(word) · symbols(word)) — the same identity the DuckDB
    oracle (:func:`bpe_encode_sql`) relies on.  The train's single
    corpus scan is the only data-sized step; the count is vocab-local.
    """
    spark = df.sparkSession
    _, final_vocab = _train(df, text_col, n_merges, max_local_vocab)
    if isinstance(final_vocab, list):
        counts: "dict[str, int]" = {}
        for s, n in final_vocab:
            for tok in s.split(" "):
                if tok:
                    t = tok.replace(SENTINEL, "")
                    counts[t] = counts.get(t, 0) + n
        return spark.createDataFrame(
            spark.sparkContext.parallelize(sorted(counts.items()), 1),
            "token string, n_occ long",
        )
    return (
        final_vocab.select(
            F.explode(F.filter(F.split("s", " "), lambda t: t != F.lit(""))).alias(
                "tok"
            ),
            "n",
        )
        .groupBy(F.regexp_replace("tok", SENTINEL, "").alias("token"))
        .agg(F.sum("n").alias("n_occ"))
    )


def bpe_apply(
    df: DataFrame,
    merges: "list[tuple]",
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Encode text with a learned merge list (rows of
    :func:`bpe_train` as ``(merge_idx, lhs, rhs, merged, _)`` in merge
    order) -> input rows plus ``out_col array<string>`` of BPE tokens.
    Every CHARACTER carries the ``·`` sentinel (it anchors symbol
    boundaries for the merge ``replace``), so a token's text is
    recovered by stripping sentinels; tokens never span words (words
    encode independently and concatenate).

    The merge chain compiles to ONE projection of chained ``replace``
    calls inside a per-word lambda — row-local, scan-speed, no shuffle,
    no UDF."""

    def encode_word(w):
        sym = F.concat(
            F.array_join(
                F.transform(_chars(w), lambda ch: F.concat(F.lit(SENTINEL), ch)),
                " ",
            ),
            F.lit(" "),
        )
        enc = sym
        for row in merges:
            lhs, rhs, merged = row[1], row[2], row[3]
            enc = F.replace(enc, F.lit(f"{lhs} {rhs} "), F.lit(f"{merged} "))
        return F.filter(F.split(enc, " "), lambda t: t != F.lit(""))

    return df.select(
        "*",
        F.flatten(
            F.transform(
                F.filter(
                    tokens(F.col(text_col)), lambda w: ~w.contains(SENTINEL)
                ),
                encode_word,
            )
        ).alias(out_col),
    )


def _chars(col):
    return F.regexp_extract_all(col, F.lit("."), F.lit(0))


def bpe_train_sql(
    src_sql: str,
    text_expr: str = "text",
    n_merges: int = 8,
) -> str:
    """DuckDB oracle for :func:`bpe_train`: the same vocabulary CTE and
    ``n_merges`` mechanically-nested rounds — each round's top pair is a
    1-row CTE, each next vocabulary applies the same anchored
    ``replace``."""
    s = SENTINEL
    parts = [
        f"""
WITH corpus AS ({src_sql}),
w0 AS (
  SELECT list_aggregate(list_transform(regexp_extract_all(w, '.'),
                                       c -> '{s}' || c),
                        'string_agg', ' ') || ' ' AS s,
         count(*)::BIGINT AS n
  FROM (
    SELECT unnest(list_filter(string_split_regex(trim({text_expr}), '\\s+'),
                              x -> x <> '')) AS w
    FROM corpus
  )
  WHERE NOT contains(w, '{s}')
  GROUP BY 1
)"""
    ]
    for i in range(n_merges):
        parts.append(
            f""",
p{i} AS (
  SELECT l, r, sum(n)::BIGINT AS c FROM (
    SELECT syms[i] AS l, syms[i + 1] AS r, n FROM (
      SELECT syms, n, unnest(range(1, len(syms))) AS i
      FROM (SELECT list_filter(string_split(s, ' '), x -> x <> '') AS syms, n
            FROM w{i})
    )
  ) GROUP BY l, r ORDER BY c DESC, l, r LIMIT 1
),
w{i + 1} AS (
  SELECT replace(w.s, p.l || ' ' || p.r || ' ',
                 p.l || substr(p.r, 2) || ' ') AS s, w.n
  FROM w{i} w, p{i} p
)"""
        )
    selects = [
        f"SELECT {i + 1} AS merge_idx, l AS lhs, r AS rhs,"
        f" l || substr(r, 2) AS merged, c AS pair_count FROM p{i}"
        for i in range(n_merges)
    ]
    return "".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


def bpe_encode_sql(
    src_sql: str,
    text_expr: str = "text",
    n_merges: int = 8,
    k: int = 30,
) -> str:
    """DuckDB oracle for train-then-:func:`bpe_apply` corpus token
    counts: the :func:`bpe_train_sql` CTE chain's FINAL vocabulary
    (``w{n_merges}``) already holds every word's fully-merged symbol
    string with its corpus count, and words encode independently — so
    corpus-wide token counts are the vocab's symbols weighted by word
    count, no re-encode pass.  Emits the top-``k`` tokens by
    ``(n_occ desc, token asc)`` with sentinels stripped (each token is
    ``·`` + raw chars, so the strip is a bijection)."""
    # keep only bpe_train_sql's WITH chain: cut the trailing merge-row UNION
    train = bpe_train_sql(src_sql, text_expr, n_merges)
    prefix = train.split("\nSELECT 1 AS merge_idx")[0]
    return f"""{prefix}
, toks AS (
  SELECT unnest(list_filter(string_split(s, ' '), x -> x <> '')) AS tok, n
  FROM w{n_merges}
),
tc AS (
  SELECT replace(tok, '{SENTINEL}', '') AS token, sum(n)::BIGINT AS n_occ
  FROM toks GROUP BY 1
)
SELECT token, n_occ, rank FROM (
  SELECT token, n_occ,
         row_number() OVER (ORDER BY n_occ DESC, token ASC)::BIGINT AS rank
  FROM tc
) WHERE rank <= {k}
"""
