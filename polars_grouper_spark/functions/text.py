"""Text analysis over document tables — all JVM-side built-in expressions.

Designed for the ``documents`` table shape (doc_id, text, lang, source,
n_chars) but generic over any (id, text) pair.  Everything here stays
inside whole-stage codegen — no Python UDFs — so it scans at parquet
speed and scales linearly with executors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Small built-in stopword lists for the language-id heuristic.  Word
# overlap across languages is fine — scores compete.
LANG_STOPWORDS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"],
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "for", "was"],
    "es": ["el", "la", "los", "las", "y", "de", "que", "en", "un", "por"],
    "fr": ["le", "la", "les", "et", "de", "que", "en", "un", "pour", "est"],
    "it": ["il", "la", "di", "che", "e", "un", "per", "con", "non", "una"],
}

ENGLISH_STOPWORDS = LANG_STOPWORDS["en"]


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization -> array<string> (empty tokens removed)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != F.lit(""))


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column | str) -> Column:
    """Sub-word-ish token count: splits on word/number/punct boundaries the
    way BPE pre-tokenizers do (letters runs, digit runs, single punct)."""
    c = F.col(text) if isinstance(text, str) else text
    pieces = F.filter(
        F.split(c, r"(?<=[^\p{L}\p{N}])|(?=[^\p{L}\p{N}])"),
        lambda t: (t != F.lit("")) & (t != F.lit(" ")),
    )
    return F.size(pieces)


def text_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document stats: char/token counts and character-class ratios.

    Output: (id, n_chars, n_tokens, avg_token_len, punct_ratio,
    digit_ratio, upper_ratio, space_ratio, stopword_ratio).
    """
    t = F.col(text_col)
    n_chars = F.length(t)
    stop_lit = F.array(*[F.lit(w) for w in ENGLISH_STOPWORDS])

    # Stage 1: tokenize ONCE.  The tokens expression (split+filter HOF) is
    # referenced by n_tokens, avg_token_len and stopword_ratio; aliased in
    # its own projection it is evaluated once per row — CollapseProject
    # keeps multi-referenced non-cheap aliases in their own Project, so
    # the optimizer does not re-inline it (a single flat select was
    # measured to evaluate the tokenizer 5× per row).
    staged = df.select(
        F.col(id_col),
        t,
        n_chars.cast("long").alias("n_chars"),
        tokens(t).alias("_toks"),
    )

    nc = F.col("n_chars")
    nt = F.size("_toks").cast("long")
    n_stop = F.size(
        F.filter(F.transform("_toks", F.lower), lambda x: F.array_contains(stop_lit, x))
    )

    def class_ratio(pattern: str) -> Column:
        removed = F.length(F.regexp_replace(F.col(text_col), pattern, ""))
        return F.when(nc > 0, (nc - removed) / nc).otherwise(F.lit(0.0))

    return staged.select(
        F.col(id_col),
        "n_chars",
        nt.alias("n_tokens"),
        F.when(nt > 0, (nc - nt + 1) / nt).otherwise(F.lit(0.0)).alias("avg_token_len"),
        class_ratio(r"[\p{Punct}]").alias("punct_ratio"),
        class_ratio(r"[0-9]").alias("digit_ratio"),
        class_ratio(r"[A-Z]").alias("upper_ratio"),
        class_ratio(r"\s").alias("space_ratio"),
        F.when(nt > 0, n_stop / nt).otherwise(F.lit(0.0)).alias("stopword_ratio"),
    )


def quality_score(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Heuristic [0,1] quality score — a deterministic combination of the
    stats (length band, punctuation sanity, stopword presence).  Mirrors
    the shape of C4/Gopher-style quality filters."""
    s = text_stats(df, id_col, text_col)
    length_term = F.least(F.col("n_tokens") / 50.0, F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(F.col("punct_ratio") * 4.0, F.lit(1.0))
    stop_term = F.least(F.col("stopword_ratio") * 5.0, F.lit(1.0))
    digit_term = F.lit(1.0) - F.least(F.col("digit_ratio") * 5.0, F.lit(1.0))
    return s.select(
        id_col,
        ((length_term + punct_term + stop_term + digit_term) / 4.0).alias("quality_score"),
    )


def language_id(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """n-gram/stopword language heuristic -> (id, lang_pred, lang_hits).

    Scores each language by stopword hits over the token stream; argmax
    with deterministic tie-break (language code ascending); no hits ->
    'und'.
    """
    # Tokenize ONCE in a staged projection (multi-referenced non-cheap
    # alias — CollapseProject keeps it), then score every language against
    # the shared token array.
    staged = df.select(
        "*", F.transform(tokens(F.col(text_col)), F.lower).alias("_toks")
    )

    def contains_pred(stop_lit):
        return lambda x: F.array_contains(stop_lit, x)

    scores = []
    for lang in sorted(LANG_STOPWORDS):
        stop_lit = F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])
        hits = F.size(F.filter(F.col("_toks"), contains_pred(stop_lit)))
        scores.append(F.struct(hits.alias("hits"), F.lit(lang).alias("lang")))
    # array_max on struct: max by (hits, lang) lexicographic — ties prefer
    # the LAST lang alphabetically, so invert: order by (hits, reversed
    # rank) is messy; instead sort desc by hits then asc by lang via
    # negated hits in a sortable struct.
    best = F.array_min(
        F.array(
            *[
                F.struct((-s["hits"]).alias("neg"), s["lang"].alias("lang"), s["hits"].alias("hits"))
                for s in scores
            ]
        )
    )
    return staged.select(
        F.col(id_col),
        F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und")).alias("lang_pred"),
        best["hits"].cast("long").alias("lang_hits"),
    )


def enrich_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: "tuple[str, ...]" = (),
) -> DataFrame:
    """All row-local text derivations fused into ONE scan → one projection
    chain: ``(id, lang_pred, lang_hits, quality_score, n_ws_tokens,
    n_bpe_tokens, *keep_cols)``.

    ``keep_cols`` passes source columns through (e.g. the text itself for
    a downstream content-keyed dedup join) so consumers don't re-scan the
    corpus just to rejoin columns the enrichment already read.

    Joining :func:`language_id` + :func:`quality_score` + token counts
    reads the corpus once PER DERIVATION (Catalyst does not deduplicate
    scans across join branches); at 100 TB those extra passes dominate the
    job.  This fusion computes the identical per-row expressions (same
    arithmetic, same order — equality with the composed form is
    test-asserted) over a single staged tokenization, so the whole
    enrichment is one parquet pass inside whole-stage codegen.
    """
    t = F.col(text_col)
    stop_en = F.array(*[F.lit(w) for w in ENGLISH_STOPWORDS])
    extra = [c for c in keep_cols if c not in (id_col, text_col)]
    # Stage the multi-referenced non-cheap expressions (see text_stats).
    staged = df.select(
        F.col(id_col),
        t,
        *[F.col(c) for c in extra],
        F.length(t).cast("long").alias("n_chars"),
        tokens(t).alias("_toks"),
    )
    staged = staged.select("*", F.transform("_toks", F.lower).alias("_ltoks"))

    nc = F.col("n_chars")
    nt = F.size("_toks").cast("long")
    n_stop = F.size(F.filter(F.col("_ltoks"), lambda x: F.array_contains(stop_en, x)))

    def class_ratio(pattern: str) -> Column:
        removed = F.length(F.regexp_replace(t, pattern, ""))
        return F.when(nc > 0, (nc - removed) / nc).otherwise(F.lit(0.0))

    punct_ratio = class_ratio(r"[\p{Punct}]")
    digit_ratio = class_ratio(r"[0-9]")
    stopword_ratio = F.when(nt > 0, n_stop / nt).otherwise(F.lit(0.0))
    length_term = F.least(nt / 50.0, F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(punct_ratio * 4.0, F.lit(1.0))
    stop_term = F.least(stopword_ratio * 5.0, F.lit(1.0))
    digit_term = F.lit(1.0) - F.least(digit_ratio * 5.0, F.lit(1.0))
    quality = (length_term + punct_term + stop_term + digit_term) / 4.0

    scores = []
    for lang in sorted(LANG_STOPWORDS):
        stop_lit = F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])
        hits = F.size(
            F.filter(F.col("_ltoks"), (lambda s: lambda x: F.array_contains(s, x))(stop_lit))
        )
        scores.append(F.struct(hits.alias("hits"), F.lit(lang).alias("lang")))
    best = F.array_min(
        F.array(
            *[
                F.struct((-s["hits"]).alias("neg"), s["lang"].alias("lang"), s["hits"].alias("hits"))
                for s in scores
            ]
        )
    )

    passthrough = [F.col(c) for c in keep_cols if c != id_col]
    return staged.select(
        F.col(id_col),
        F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und")).alias("lang_pred"),
        best["hits"].cast("long").alias("lang_hits"),
        quality.alias("quality_score"),
        nt.alias("n_ws_tokens"),
        bpe_ish_token_count(t).alias("n_bpe_tokens"),
        *passthrough,
    )


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style within-document repetition signals ->
    ``(id, n_tokens, dup_token_frac, dup_bigram_frac, top_bigram_frac)``.

    - ``dup_token_frac``: fraction of token occurrences that are repeats
      of an earlier token (``1 - distinct/total``) — row-local via
      ``array_distinct``, no shuffle.
    - ``dup_bigram_frac``: same over adjacent-token bigrams — row-local.
    - ``top_bigram_frac``: fraction of bigram occurrences taken by the
      single most frequent bigram (the "fraction of characters in the most
      common n-gram" filter from Rae et al. 2021 §A1.1, token-weighted).
      This is a per-document mode, computed with explode + two map-side
      combinable aggregations — the only shuffled part, and it shuffles
      (id, gram) pairs, never the corpus text.

    Scale: the explode multiplies rows by tokens/doc, but partial
    aggregation collapses (id, gram) duplicates map-side before the
    exchange; state per doc is its distinct-bigram set, bounded by doc
    length.  Docs with < 2 tokens get 0.0 for the bigram fractions.
    """
    t = F.col(text_col)
    # Stage 1: tokenize once; stage 2: derive the bigram array in its own
    # projection (generator rule — an expression in the same select as the
    # later explode would be re-evaluated per output row).
    staged = df.select(F.col(id_col).alias("id"), tokens(t).alias("_toks"))
    n = F.size("_toks")
    staged = staged.select(
        "id",
        n.cast("long").alias("n_tokens"),
        F.size(F.array_distinct("_toks")).cast("long").alias("n_distinct"),
        F.when(
            n >= 2,
            F.zip_with(
                F.slice("_toks", 1, n - 1),
                F.slice("_toks", 2, n - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("_bigrams"),
    )

    # The row-local metrics are functionally dependent on id, so they ride
    # through the explode as extra grouping keys — ONE corpus scan, two
    # map-side-combinable shuffles, and no join back.  explode_outer keeps
    # short docs (null gram row), masked out of the mode by the filtered max.
    row_local = staged.select(
        "id",
        "n_tokens",
        F.when(F.col("n_tokens") > 0, 1.0 - F.col("n_distinct") / F.col("n_tokens"))
        .otherwise(F.lit(0.0))
        .alias("dup_token_frac"),
        F.size("_bigrams").cast("long").alias("n_bigrams"),
        F.size(F.array_distinct("_bigrams")).cast("long").alias("n_distinct_bigrams"),
        F.col("_bigrams"),
    )
    keys = ["id", "n_tokens", "dup_token_frac", "n_bigrams", "n_distinct_bigrams"]
    exploded = row_local.select(*keys, F.explode_outer("_bigrams").alias("gram"))
    per_doc = (
        exploded.groupBy(*keys, "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy(*keys)
        .agg(F.max(F.when(F.col("gram").isNotNull(), F.col("cnt"))).alias("top_cnt"))
    )

    return per_doc.select(
        F.col("id").alias(id_col),
        "n_tokens",
        "dup_token_frac",
        F.when(
            F.col("n_bigrams") > 0,
            1.0 - F.col("n_distinct_bigrams") / F.col("n_bigrams"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_bigram_frac"),
        F.when(
            F.col("n_bigrams") > 0,
            F.coalesce(F.col("top_cnt"), F.lit(0)) / F.col("n_bigrams"),
        )
        .otherwise(F.lit(0.0))
        .alias("top_bigram_frac"),
    )


def fingerprint(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Normalization-robust document fingerprint -> (id, fingerprint).

    Lowercase, collapse non-alphanumerics to single spaces, trim, md5.
    Equal fingerprints = near-identical docs up to casing/punct/whitespace.
    """
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"[^\p{L}\p{N}]+", " "))
    return df.select(F.col(id_col), F.md5(norm).alias("fingerprint"))


def _windows(toks: Column, n: int) -> Column:
    """Length-``n`` windows over an ALREADY-STAGED token array column.

    ``toks`` must be a plain column reference (stage the tokenize in its
    own ``select`` first): an expression here would be re-evaluated once
    per window position by the lambda — O(L²) per document.
    """
    windows = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    # sequence(1, k) for k < 1 counts DOWN; guard short docs explicitly.
    return F.when(F.size(toks) >= n, windows).otherwise(
        F.array().cast("array<string>")
    )


def ngrams(text: Column | str, n: int = 2) -> Column:
    """Word n-grams -> array<string> (space-joined, lowercased whitespace
    tokens).  A document shorter than ``n`` tokens yields an empty array.

    Convenience form for small frames/tests: the tokenize expression is
    referenced inside the window lambda, so it re-evaluates per position
    — on corpus-scale scans use the staged pattern instead (tokenize in
    one ``select``, then ``_windows`` over the column; that is what
    :func:`top_ngrams` compiles to).
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    toks = F.transform(tokens(text), F.lower)
    return _windows(toks, n)


def top_ngrams(
    df: DataFrame,
    n: int = 2,
    k: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level top-k word n-grams -> ``(ngram, n_docs, n_occurrences)``
    ordered by (occurrences desc, ngram) — the tiebreak is total, so the
    selected set is deterministic.

    Scale: ONE corpus scan and ONE explode — per-(ngram, doc) counts
    first (map-side combinable; also the dedup for ``n_docs``), then the
    corpus rollup on the n-gram key (sum + count in the same
    aggregation).  The top-k is a TakeOrdered over the aggregated
    (distinct-ngram-sized) table, never the corpus.  Vocabulary skew
    (stop-phrase n-grams) is absorbed by the two-level partial
    aggregation.
    """
    # Stage the doc id AND the token array in their own projections:
    # expressions in the same select as a generator are evaluated per
    # GENERATED row (every occurrence would get its own id), and a
    # tokenize expression referenced inside the window lambda would be
    # RE-EVALUATED per position — O(L²) per doc (measured 6x on the
    # documents table; same lesson as SCALE.md's staged-projection note).
    staged = df.select(
        F.monotonically_increasing_id().alias("_doc"),
        F.transform(tokens(F.col(text_col)), F.lower).alias("_toks"),
    )
    per_doc = (
        staged.select("_doc", F.explode(_windows(F.col("_toks"), n)).alias("ngram"))
        .groupBy("ngram", "_doc")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        per_doc.groupBy("ngram")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("cnt").cast("long").alias("n_occurrences"),
        )
        .orderBy(F.col("n_occurrences").desc(), "ngram")
        .limit(k)
        .select("ngram", "n_docs", "n_occurrences")
    )


def top_ngrams_sql(n: int = 2, k: int = 50, table: str = "documents") -> str:
    """DuckDB oracle replicating :func:`top_ngrams` (whitespace tokens,
    lowercase, space-joined windows)."""
    return f"""
WITH toks AS (
  SELECT row_number() OVER () AS doc,
         CASE WHEN trim(text) = '' THEN []
              ELSE list_transform(regexp_split_to_array(trim(text), '\\s+'), t -> lower(t))
         END AS t
  FROM {table}
),
grams AS (
  SELECT doc, array_to_string(list_slice(t, i, i + {n} - 1), ' ') AS ngram
  FROM toks, unnest(range(1, len(t) - {n} + 2)) AS u(i)
  WHERE len(t) >= {n}
),
occ AS (SELECT ngram, count(*)::BIGINT AS n_occurrences FROM grams GROUP BY ngram),
docs AS (SELECT ngram, count(DISTINCT doc)::BIGINT AS n_docs FROM grams GROUP BY ngram)
SELECT o.ngram, d.n_docs, o.n_occurrences
FROM occ o JOIN docs d USING (ngram)
ORDER BY o.n_occurrences DESC, o.ngram
LIMIT {k}
"""


def vocab_coverage(
    df: DataFrame,
    text_col: str = "text",
    k: int = 100,
) -> DataFrame:
    """Vocabulary coverage curve -> ``(rank, token, cnt, cum_share)`` for
    the top-``k`` tokens by corpus frequency: ``cum_share`` is the
    fraction of all token occurrences covered by ranks 1..r — the
    tokenizer-design question "how much of the corpus do the top N
    words cover?".  Count sums are exact integers; the only float is
    the final cum/total division (rounded to 9).  Ties break by token
    string, so the ranking is a total order on any engine.

    One explode + one map-side-combinable count; the window runs over
    the top-k token rows only (the count table is vocabulary-sized, and
    the curve needs just its head).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    staged = df.select(tokens(F.col(text_col)).alias("_toks"))
    counts = (
        staged.select(F.explode("_toks").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = counts.agg(F.sum("cnt")).collect()[0][0] or 0
    top = counts.orderBy(F.col("cnt").desc(), "token").limit(k)
    w = Window.orderBy(F.col("cnt").desc(), "token").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return top.select(
        F.row_number()
        .over(Window.orderBy(F.col("cnt").desc(), "token"))
        .cast("long")
        .alias("rank"),
        "token",
        "cnt",
        F.round(
            F.sum("cnt").over(w).cast("double") / F.lit(float(max(total, 1))), 9
        ).alias("cum_share"),
    )


def vocab_coverage_sql(
    table: str = "documents", text_expr: str = "text", k: int = 100
) -> str:
    """DuckDB oracle replaying :func:`vocab_coverage`."""
    return f"""
WITH toks AS (
  SELECT unnest(list_filter(string_split_regex(trim({text_expr}), '\\s+'),
                            x -> x <> '')) AS token
  FROM {table}
),
counts AS (SELECT token, count(*)::BIGINT AS cnt FROM toks GROUP BY token),
total AS (SELECT greatest(sum(cnt), 1)::DOUBLE AS t FROM counts),
top AS (
  SELECT token, cnt,
         row_number() OVER (ORDER BY cnt DESC, token) AS rank,
         sum(cnt) OVER (ORDER BY cnt DESC, token
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM counts
)
SELECT rank::BIGINT AS rank, token, cnt,
       round(CAST(cum AS DOUBLE) / total.t, 9) AS cum_share
FROM top, total WHERE rank <= {k}
"""


def pmi_pairs(
    df: DataFrame,
    text_col: str = "text",
    *,
    min_count: int = 5,
    top_k: int = 50,
) -> DataFrame:
    """Pointwise mutual information of adjacent token bigrams ->
    ``(tok_a, tok_b, n_ab, pmi)`` for the ``top_k`` strongest
    associations among bigrams seen at least ``min_count`` times:
    ``pmi = ln(P(ab) / (P(a)·P(b)))`` with unigram probabilities over
    token occurrences and bigram probabilities over bigram positions —
    the classic collocation detector (Church & Hanks 1990).

    All counts are exact integer aggregations; ``ln`` touches only the
    OUTPUT value (rounded to 6), never a selection — except the final
    top-k ordering, which therefore orders by the log's exact integer
    ARGUMENT cross-products instead: pmi(a,b) > pmi(c,d) ⇔
    n_ab·N_uni² · n_c·n_d  >  n_cd·N_uni² · n_a·n_b (monotone transform;
    evaluated as exact BIGINT products) — so the picked rows are
    engine-stable even when two pmi values differ past double
    precision.  Ties break on the token pair.
    """
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    # staged feeds unigram AND bigram extraction; uni feeds the total,
    # and both sides of the PMI join — materialize the token arrays once.
    from polars_grouper_spark.plans.iteration import observed, truncate_lineage

    staged = truncate_lineage(df.select(tokens(F.col(text_col)).alias("_toks")))
    uni = (
        staged.select(F.explode("_toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    uni, obs = observed(uni, total=F.sum("n"))
    uni = truncate_lineage(uni)
    n_uni = obs.get["total"] or 0
    bi = staged.select(
        F.explode(
            F.zip_with(
                F.slice("_toks", 1, F.greatest(F.size("_toks") - 1, F.lit(0))),
                F.slice("_toks", 2, F.greatest(F.size("_toks") - 1, F.lit(0))),
                lambda x, y: F.struct(x.alias("a"), y.alias("b")),
            )
        ).alias("p")
    ).select(F.col("p.a").alias("tok_a"), F.col("p.b").alias("tok_b"))
    bic = (
        bi.groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= min_count)
    )
    n_bi = bi.count()
    ua = uni.select(F.col("tok").alias("tok_a"), F.col("n").alias("n_a"))
    ub = uni.select(F.col("tok").alias("tok_b"), F.col("n").alias("n_b"))
    joined = bic.join(F.broadcast(ua), "tok_a").join(F.broadcast(ub), "tok_b")
    # ordering key: n_ab / (n_a * n_b) as exact rationals -> compare via
    # the double of the ratio is NOT safe; use (n_ab, n_a*n_b) cross
    # ordering through a single exact integer-ratio surrogate: order by
    # n_ab * 10^12 / (n_a * n_b) integer-divided — collisions then break
    # on the pair, which is engine-stable.
    surrogate = (F.col("n_ab") * F.lit(1_000_000_000_000)) / (
        F.col("n_a") * F.col("n_b")
    )
    pmi = F.log(
        F.col("n_ab").cast("double")
        * F.lit(float(n_uni))
        * F.lit(float(n_uni))
        / (
            F.lit(float(n_bi))
            * F.col("n_a").cast("double")
            * F.col("n_b").cast("double")
        )
    )
    return (
        joined.select(
            "tok_a", "tok_b", "n_ab",
            F.round(pmi, 6).alias("pmi"),
            F.floor(surrogate).cast("long").alias("_key"),
        )
        .orderBy(F.col("_key").desc(), "tok_a", "tok_b")
        .limit(top_k)
        .drop("_key")
    )


def pmi_pairs_sql(
    table: str = "documents",
    text_expr: str = "text",
    *,
    min_count: int = 5,
    top_k: int = 50,
) -> str:
    """DuckDB oracle replaying :func:`pmi_pairs` (same integer ordering
    surrogate)."""
    toks = (
        f"SELECT list_filter(string_split_regex(trim({text_expr}), '\\s+'),"
        f" x -> x <> '') AS t FROM {table}"
    )
    return f"""
WITH staged AS ({toks}),
uni AS (
  SELECT unnest(t) AS tok FROM staged
),
uc AS (SELECT tok, count(*)::BIGINT AS n FROM uni GROUP BY tok),
nu AS (SELECT sum(n)::BIGINT AS n_uni FROM uc),
bi AS (
  SELECT t[i] AS tok_a, t[i + 1] AS tok_b
  FROM staged, unnest(range(1, len(t))) u(i)
),
nb AS (SELECT count(*)::BIGINT AS n_bi FROM bi),
bc AS (
  SELECT tok_a, tok_b, count(*)::BIGINT AS n_ab
  FROM bi GROUP BY tok_a, tok_b HAVING count(*) >= {min_count}
)
SELECT tok_a, tok_b, n_ab,
       round(ln(CAST(n_ab AS DOUBLE) * nu.n_uni * nu.n_uni
                / (nb.n_bi * CAST(a.n AS DOUBLE) * CAST(b.n AS DOUBLE))), 6)
         AS pmi
FROM bc
JOIN uc a ON a.tok = bc.tok_a
JOIN uc b ON b.tok = bc.tok_b
CROSS JOIN nu CROSS JOIN nb
ORDER BY CAST(floor((n_ab * 1000000000000) / (a.n * b.n)) AS BIGINT) DESC,
         tok_a, tok_b
LIMIT {top_k}
"""


def textrank_edges(
    df: DataFrame, text_col: str = "text", *, min_pair_count: int = 3
) -> DataFrame:
    """Word co-occurrence graph for TextRank -> symmetric ``(src, dst)``
    edges: adjacent lowercase token pairs (canonical order, self-pairs
    dropped) kept when the corpus-wide pair count reaches
    ``min_pair_count`` — the frequency floor bounds the graph to the
    stable collocation structure instead of the long tail.  One corpus
    scan + one explode; the pair count is map-side combinable."""
    staged = df.select(
        F.transform(tokens(F.col(text_col)), F.lower).alias("_toks")
    )
    pairs = staged.select(F.explode(_windows(F.col("_toks"), 2)).alias("_bg"))
    arr = F.split(F.col("_bg"), " ")
    w1, w2 = arr.getItem(0), arr.getItem(1)
    pc = (
        pairs.select(
            F.least(w1, w2).alias("a"), F.greatest(w1, w2).alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= min_pair_count)
    )
    return pc.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
        pc.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )


def textrank_keywords(
    df: DataFrame,
    text_col: str = "text",
    *,
    k: int = 30,
    min_pair_count: int = 3,
    damping: float = 0.85,
    iters: int = 5,
) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004) -> top-``k``
    ``(word, score)``: PageRank over the adjacent-word co-occurrence
    graph, fixed ``iters`` power rounds so the oracle replays every
    round, total (rounded score desc, word) order for a deterministic
    cut.  Composition of :func:`textrank_edges` with
    ``operators.pagerank.page_rank_nodes`` — the graph is
    vocabulary-sized, far below the rank-broadcast threshold, so each
    round is a broadcast join + one map-side-combinable sum."""
    from ..operators.pagerank import page_rank_nodes

    edges = textrank_edges(df, text_col, min_pair_count=min_pair_count)
    pr = page_rank_nodes(
        edges,
        "src",
        "dst",
        damping_factor=damping,
        max_iterations=iters,
        convergence_threshold=0.0,
    )
    scored = pr.select("node", F.round("score", 8).alias("score"))
    return (
        scored.orderBy(F.col("score").desc(), "node")
        .limit(k)
        .select(F.col("node").alias("word"), "score")
    )


def textrank_edges_sql(
    table: str = "documents", *, min_pair_count: int = 3
) -> str:
    """DuckDB edge SQL matching :func:`textrank_edges` (feed to the same
    unrolled-PageRank oracle builder as the graph queries)."""
    return f"""
WITH _toks AS (
  SELECT CASE WHEN trim(text) = '' THEN []
              ELSE list_transform(regexp_split_to_array(trim(text), '\\s+'),
                                  t -> lower(t))
         END AS t
  FROM {table}
),
_prs AS (
  SELECT least(t[i], t[i + 1]) AS a, greatest(t[i], t[i + 1]) AS b
  FROM _toks, unnest(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2 AND t[i] <> t[i + 1]
),
_pc AS (
  SELECT a, b FROM _prs GROUP BY a, b HAVING count(*) >= {min_pair_count}
)
SELECT a AS src, b AS dst FROM _pc UNION ALL SELECT b, a FROM _pc
"""


def zipf_alpha(
    df: DataFrame, text_col: str = "text", *, c_min: int = 3
) -> DataFrame:
    """Zipf/power-law exponent of the token frequency distribution ->
    ONE row ``(n_tokens, n_tail, max_count, alpha)`` — the corpus-health
    fingerprint (natural language sits near alpha ~= 2 on
    frequency-of-frequencies; generated/templated text drifts).

    Same discrete MLE as the degree-distribution fit
    (``operators.degree_stats.powerlaw_alpha``): alpha = 1 + n_tail /
    Σ n_c·ln(c/(c_min−½)) over tokens with count >= ``c_min``, computed
    on the count-of-counts histogram — two map-side-combinable
    aggregations after the token explode; ln sees exact integer ratios
    and rounds to 6 like every libm output in the repo."""
    if c_min < 1:
        raise ValueError(f"c_min must be >= 1, got {c_min}")
    toks = df.where(F.col(text_col).isNotNull()).select(
        F.explode(F.transform(tokens(F.col(text_col)), F.lower)).alias("tok")
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    hist = counts.groupBy("c").agg(F.count(F.lit(1)).alias("n_c"))
    tail = F.when(F.col("c") >= c_min, F.col("n_c")).otherwise(0)
    log_term = F.when(
        F.col("c") >= c_min,
        F.col("n_c") * F.log(F.col("c") / F.lit(c_min - 0.5)),
    ).otherwise(F.lit(0.0))
    return hist.agg(
        F.sum("n_c").alias("n_tokens"),
        F.sum(tail).alias("n_tail"),
        F.max("c").alias("max_count"),
        F.round(F.lit(1.0) + F.sum(tail) / F.sum(log_term), 6).alias(
            "alpha"
        ),
    )


def zipf_alpha_sql(
    table: str = "documents", text_col: str = "text", *, c_min: int = 3
) -> str:
    """DuckDB oracle for :func:`zipf_alpha`."""
    return f"""
WITH toks AS (
  SELECT lower(u.tok) AS tok
  FROM {table},
       unnest(CASE WHEN trim({text_col}) = '' THEN []
                   ELSE regexp_split_to_array(trim({text_col}), '\\s+')
              END) AS u(tok)
  WHERE {text_col} IS NOT NULL
),
counts AS (SELECT tok, count(*)::BIGINT AS c FROM toks GROUP BY tok),
hist AS (SELECT c, count(*)::BIGINT AS n_c FROM counts GROUP BY c)
SELECT sum(n_c)::BIGINT AS n_tokens,
       sum(CASE WHEN c >= {c_min} THEN n_c ELSE 0 END)::BIGINT AS n_tail,
       max(c) AS max_count,
       round(1.0 + sum(CASE WHEN c >= {c_min} THEN n_c ELSE 0 END)
             / sum(CASE WHEN c >= {c_min}
                   THEN n_c * ln(c / {c_min - 0.5!r}) ELSE 0.0 END), 6)
         AS alpha
FROM hist
"""


def vocab_growth(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n_checkpoints: int = 10,
) -> DataFrame:
    """Vocabulary growth curve (Heaps' law readout) -> ``(checkpoint,
    id_threshold, n_tokens, vocab)`` at ``n_checkpoints`` corpus
    prefixes ordered by document id: how fast does the vocabulary grow
    as the corpus grows?  Sub-linear growth (β < 1 on the log-log
    curve) is the natural-language signature; near-linear growth flags
    id-like or noisy token streams.

    Everything is exact integers: each token's FIRST document id (one
    min-aggregation) and per-document token counts reduce once, then
    every checkpoint is a conditional sum in the SAME aggregation —
    one corpus scan total, n_checkpoints never adds passes."""
    if n_checkpoints < 2:
        raise ValueError(
            f"n_checkpoints must be >= 2, got {n_checkpoints}"
        )
    toks = df.where(
        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
    ).select(
        F.col(id_col).cast("long").alias("doc"),
        F.explode(F.transform(tokens(F.col(text_col)), F.lower)).alias(
            "tok"
        ),
    )
    first = toks.groupBy("tok").agg(F.min("doc").alias("first_doc"))
    per_doc = toks.groupBy("doc").agg(F.count(F.lit(1)).alias("n_tok"))
    mm = per_doc.agg(F.min("doc").alias("_lo"), F.max("doc").alias("_hi"))

    def thresholds(i):
        # id threshold of checkpoint i (1-based): lo + i*(hi-lo)/n
        return F.col("_lo") + F.floor(
            (F.col("_hi") - F.col("_lo")) * i / n_checkpoints
        )

    vocab_aggs = [
        F.sum(
            (F.col("first_doc") <= thresholds(i)).cast("long")
        ).alias(f"_v{i}")
        for i in range(1, n_checkpoints + 1)
    ]
    tok_aggs = [
        F.sum(
            F.when(F.col("doc") <= thresholds(i), F.col("n_tok")).otherwise(0)
        ).alias(f"_t{i}")
        for i in range(1, n_checkpoints + 1)
    ]
    v_row = first.crossJoin(F.broadcast(mm)).agg(*vocab_aggs)
    t_row = per_doc.crossJoin(F.broadcast(mm)).agg(*tok_aggs)
    both = v_row.crossJoin(t_row).crossJoin(F.broadcast(mm))
    ck = df.sparkSession.range(1, n_checkpoints + 1).select(
        F.col("id").cast("int").alias("checkpoint")
    )
    out = ck.crossJoin(F.broadcast(both))
    pick_v = F.coalesce(
        *[
            F.when(F.col("checkpoint") == i, F.col(f"_v{i}"))
            for i in range(1, n_checkpoints + 1)
        ]
    )
    pick_t = F.coalesce(
        *[
            F.when(F.col("checkpoint") == i, F.col(f"_t{i}"))
            for i in range(1, n_checkpoints + 1)
        ]
    )
    thr = F.col("_lo") + F.floor(
        (F.col("_hi") - F.col("_lo")) * F.col("checkpoint") / n_checkpoints
    )
    return out.select(
        "checkpoint",
        thr.cast("long").alias("id_threshold"),
        pick_t.alias("n_tokens"),
        pick_v.alias("vocab"),
    ).orderBy("checkpoint")


def vocab_growth_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n_checkpoints: int = 10,
) -> str:
    """DuckDB oracle for :func:`vocab_growth`."""
    return f"""
WITH toks AS (
  SELECT CAST({id_col} AS BIGINT) AS doc, lower(u.tok) AS tok
  FROM {table},
       unnest(CASE WHEN trim({text_col}) = '' THEN []
                   ELSE regexp_split_to_array(trim({text_col}), '\\s+')
              END) AS u(tok)
  WHERE {id_col} IS NOT NULL AND {text_col} IS NOT NULL
),
first AS (SELECT tok, min(doc) AS first_doc FROM toks GROUP BY tok),
per_doc AS (SELECT doc, count(*) AS n_tok FROM toks GROUP BY doc),
mm AS (SELECT min(doc) AS lo, max(doc) AS hi FROM per_doc),
cks AS (SELECT CAST(u.i AS INT) AS checkpoint,
               lo + CAST(floor((hi - lo) * u.i / {n_checkpoints}) AS BIGINT)
                 AS id_threshold
        FROM mm, unnest(range(1, {n_checkpoints} + 1)) AS u(i))
SELECT c.checkpoint, c.id_threshold,
       (SELECT CAST(sum(n_tok) AS BIGINT) FROM per_doc
        WHERE doc <= c.id_threshold) AS n_tokens,
       (SELECT count(*) FROM first WHERE first_doc <= c.id_threshold)
         AS vocab
FROM cks c ORDER BY c.checkpoint
"""
