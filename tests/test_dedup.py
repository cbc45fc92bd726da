import pytest

from polars_grouper_spark.functions import dedup as dd


def _docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy dog again and again tomorrow"
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, near),  # near dup of 0
        (3, "completely different content about spark dataframes and shuffles"),
        (4, "short text"),
    ]
    return spark.createDataFrame(rows, schema="doc_id long, text string").coalesce(1)


def test_exact_dedup(spark):
    out = {r["doc_id"]: r for r in dd.exact_dedup(_docs(spark)).collect()}
    assert out[0]["canonical_id"] == 0 and not out[0]["is_duplicate"]
    assert out[1]["canonical_id"] == 0 and out[1]["is_duplicate"]
    assert out[1]["group_size"] == 2
    assert out[3]["group_size"] == 1


def test_ngram_jaccard_pairs(spark):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dd.ngram_jaccard_pairs(_docs(spark), threshold=0.5).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert 0.5 <= pairs[(0, 2)] < 1.0
    assert (0, 3) not in pairs


def test_minhash_lsh_finds_dups(spark):
    pairs = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in dd.minhash_lsh_pairs(_docs(spark), threshold=0.5).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs  # near dup caught by banding
    assert (0, 3) not in pairs


def test_simhash_near_dup(spark):
    hashes = {r["id"]: r["simhash"] for r in dd.simhash(_docs(spark)).collect()}
    assert hashes[0] == hashes[1]
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dd.simhash_pairs(_docs(spark), max_hamming=10).collect()
    }
    assert pairs[(0, 1)] == 0
    assert 0 < pairs[(0, 2)] <= 10


def test_simhash_portable_matches_duckdb(spark):
    """The portable (md5-based) simhash must be reproducible in DuckDB."""
    import duckdb

    df = _docs(spark)
    got = {r["id"]: r["simhash"] for r in dd.simhash(df, bits=16).collect()}
    rows = df.collect()
    con = duckdb.connect()
    con.execute("CREATE TABLE docs(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", [(r["doc_id"], r["text"]) for r in rows])
    duck = dict(
        con.sql(
            """
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
  FROM docs WHERE trim(text) <> ''
), tw AS (
  SELECT doc_id, tok, count(*)::bigint w FROM tok GROUP BY doc_id, tok
), th AS (
  SELECT doc_id, w, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) h FROM tw
), bits AS (
  SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN w ELSE -w END) s
  FROM th, range(16) r(b) GROUP BY doc_id, b
)
SELECT doc_id, sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)::bigint
FROM bits GROUP BY doc_id
"""
        ).fetchall()
    )
    for k, v in duck.items():
        assert got[k] == v, (k, got[k], v)


# ---------------------------------------------------------------------------
# line_dedup (CCNet-style cross-corpus line removal)
# ---------------------------------------------------------------------------

def test_line_dedup_drops_boilerplate_keeps_order(spark):
    from polars_grouper_spark.functions.dedup import line_dedup

    docs = spark.createDataFrame(
        [
            (1, "COOKIE BANNER XX\nunique alpha content\nCOOKIE BANNER XX"),
            (2, "COOKIE BANNER XX\nunique beta content"),
            (3, "totally original document"),
        ],
        ["doc_id", "text"],
    )
    got = {r["id"]: r for r in line_dedup(docs, min_count=2).collect()}
    # the banner occurs in 2 distinct docs -> dropped everywhere (both copies in doc 1)
    assert got[1]["clean_text"] == "unique alpha content"
    assert (got[1]["n_lines"], got[1]["n_dropped"]) == (3, 2)
    assert got[2]["clean_text"] == "unique beta content"
    assert got[3]["clean_text"] == "totally original document"
    assert got[3]["n_dropped"] == 0


def test_line_dedup_all_boilerplate_doc_survives_empty(spark):
    from polars_grouper_spark.functions.dedup import line_dedup

    docs = spark.createDataFrame(
        [(1, "SAME LINE HERE"), (2, "SAME LINE HERE")], ["doc_id", "text"]
    )
    got = {r["id"]: r for r in line_dedup(docs, min_count=2).collect()}
    assert got[1]["clean_text"] == "" and got[1]["n_dropped"] == 1
    assert got[2]["clean_text"] == "" and got[2]["n_dropped"] == 1


def test_line_dedup_short_lines_never_counted(spark):
    from polars_grouper_spark.functions.dedup import line_dedup

    docs = spark.createDataFrame(
        [(1, "ok\nlong duplicated line"), (2, "ok\nlong duplicated line x")],
        ["doc_id", "text"],
    )
    got = {r["id"]: r for r in line_dedup(docs, min_count=2, min_line_chars=3).collect()}
    # 'ok' is below min_line_chars -> kept even though it repeats
    assert got[1]["clean_text"].startswith("ok")
    assert got[1]["n_dropped"] == 0  # the long lines differ


def test_line_dedup_duckdb_parity(spark):
    import duckdb

    from polars_grouper_spark.functions.dedup import line_dedup, line_dedup_sql

    data = [
        (i, "\n".join([f"id line {i}", "shared header line", f"tail {i % 3}"]))
        for i in range(12)
    ]
    df = spark.createDataFrame(data, ["doc_id", "text"])
    got = sorted(tuple(r) for r in line_dedup(df, min_count=2, min_line_chars=5).collect())
    vals = ",".join("(%d, '%s')" % (i, t.replace("'", "''").replace("\n", "' || chr(10) || '")) for i, t in data)
    sql = line_dedup_sql(
        f"(SELECT * FROM (VALUES {vals}) v(doc_id, text)) t",
        "doc_id", "text", min_count=2, min_line_chars=5,
    )
    want = sorted(tuple(r) for r in duckdb.sql(sql).fetchall())
    assert got == want


# ---------------------------------------------------------------------------
# ngram_contamination (train/test leakage check)
# ---------------------------------------------------------------------------

def test_contamination_planted_overlap(spark):
    from polars_grouper_spark.functions.dedup import ngram_contamination

    train = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")], ["doc_id", "text"]
    )
    test = spark.createDataFrame(
        [
            (10, "quick brown fox jumps completely novel words here"),
            (11, "entirely disjoint vocabulary nothing shared at all"),
        ],
        ["doc_id", "text"],
    )
    got = {r["id"]: r for r in ngram_contamination(train, test, n=3).collect()}
    # doc 10: 6 trigrams, 2 of them ('quick brown fox', 'brown fox jumps') in train
    assert got[10]["n_ngrams"] == 6 and got[10]["n_contaminated"] == 2
    assert abs(got[10]["contamination_ratio"] - round(2 / 6, 6)) < 1e-9
    assert got[11]["n_contaminated"] == 0 and got[11]["contamination_ratio"] == 0.0


def test_contamination_short_doc_whole_text_shingle(spark):
    from polars_grouper_spark.functions.dedup import ngram_contamination

    train = spark.createDataFrame([(1, "tiny doc")], ["doc_id", "text"])
    test = spark.createDataFrame([(2, "tiny doc")], ["doc_id", "text"])
    got = ngram_contamination(train, test, n=5).collect()[0]
    assert got["n_ngrams"] == 1 and got["n_contaminated"] == 1


# ---------------------------------------------------------------------------
# dedup_against_corpus (incremental batch-vs-index dedup)
# ---------------------------------------------------------------------------

def test_incremental_exact_near_and_novel(spark):
    from polars_grouper_spark.functions.dedup import dedup_against_corpus

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely different corpus text about spark engines"),
        ],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog today"),  # exact
            (11, "the quick brown fox jumps over the lazy dog tonight"),  # near
            (12, "nothing like anything in the corpus whatsoever here"),  # novel
        ],
        ["doc_id", "text"],
    )
    got = {
        r["id"]: r
        for r in dedup_against_corpus(
            batch, corpus, num_hashes=32, bands=16, threshold=0.3
        ).collect()
    }
    assert got["10"]["exact_dup_of"] == "1"
    assert got["10"]["near_dup_of"] == "1" and got["10"]["near_est"] == 1.0
    assert got["11"]["exact_dup_of"] is None
    assert got["11"]["near_dup_of"] == "1" and 0.3 <= got["11"]["near_est"] < 1.0
    assert got["12"]["exact_dup_of"] is None and got["12"]["near_dup_of"] is None


def test_incremental_never_matches_within_batch(spark):
    from polars_grouper_spark.functions.dedup import dedup_against_corpus

    corpus = spark.createDataFrame([(1, "unrelated corpus entry")], ["doc_id", "text"])
    dup_text = "two batch documents that duplicate each other exactly"
    batch = spark.createDataFrame(
        [(10, dup_text), (11, dup_text)], ["doc_id", "text"]
    )
    got = {r["id"]: r for r in dedup_against_corpus(batch, corpus).collect()}
    # batch-internal duplicates are NOT each other's matches
    assert got["10"]["exact_dup_of"] is None and got["11"]["exact_dup_of"] is None
    assert got["10"]["near_dup_of"] is None and got["11"]["near_dup_of"] is None


def test_incremental_shared_source_parity(spark):
    """r9-opt: the (source, batch_pred) form — one shared MinHash
    signature pass split by the predicate — must return exactly what the
    explicit (batch, corpus) form returns."""
    import random

    from polars_grouper_spark.functions.dedup import dedup_against_corpus

    rnd = random.Random(3)
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    docs = [
        (i, " ".join(rnd.choice(words) for _ in range(12))) for i in range(40)
    ]
    src = spark.createDataFrame(docs, ["doc_id", "text"])
    explicit = dedup_against_corpus(
        src.where("doc_id % 4 = 1"),
        src.where("doc_id % 4 <> 1"),
        num_hashes=16,
        bands=8,
        threshold=0.3,
    )
    shared = dedup_against_corpus(
        num_hashes=16,
        bands=8,
        threshold=0.3,
        source=src,
        batch_pred=lambda c: c % 4 == 1,
    )
    assert sorted(map(tuple, explicit.collect())) == sorted(
        map(tuple, shared.collect())
    )


def test_jaccard_threshold_join_lossless_vs_bruteforce(spark):
    """The prefix filter must be LOSSLESS: exact pair-set equality with
    a brute-force all-pairs oracle (which replays no prefix logic)."""
    import duckdb

    from polars_grouper_spark.functions.dedup import (
        jaccard_threshold_join,
        jaccard_threshold_join_sql,
    )

    docs = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over a lazy dog"),
        (3, "the quick brown fox leaps over the lazy dog"),
        (4, "completely different text about spark engines"),
        (5, "the quick brown fox jumps over the lazy dog"),
        (6, "text about spark engines completely different"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = sorted(
        map(tuple, jaccard_threshold_join(df, "doc_id", "text", t_num=7, t_den=10).collect())
    )
    vals = ", ".join(f"({i}, '{t}')" for i, t in docs)
    want = sorted(
        tuple(r)
        for r in duckdb.sql(
            jaccard_threshold_join_sql(
                f"SELECT * FROM (VALUES {vals}) t(doc_id, text)",
                "doc_id",
                "text",
                t_num=7,
                t_den=10,
            )
        ).fetchall()
    )
    assert got == want
    pairs = {(a, b) for a, b, *_ in got}
    assert (1, 5) in pairs      # identical docs
    assert (4, 6) in pairs      # same token set, different order
    assert (1, 4) not in pairs  # unrelated


def test_jaccard_threshold_join_validation(spark):
    import pytest as _pytest

    from polars_grouper_spark.functions.dedup import jaccard_threshold_join

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="t_num"):
        jaccard_threshold_join(df, "doc_id", "text", t_num=11, t_den=10)


def test_containment_join_lossless_and_directional(spark):
    """Asymmetric containment: the subset doc qualifies toward its
    superset but not vice versa; prefix filtering must be lossless vs
    the brute-force ordered-pair oracle."""
    import duckdb

    from polars_grouper_spark.functions.dedup import (
        containment_join,
        containment_join_sql,
    )

    docs = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (3, "completely unrelated words here"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = sorted(
        map(tuple, containment_join(df, "doc_id", "text", t_num=9, t_den=10).collect())
    )
    pairs = {(a, b) for a, b, *_ in got}
    assert (1, 2) in pairs      # 1's 5 tokens all inside 2 -> containment 1.0
    assert (2, 1) not in pairs  # only 5/10 of 2's tokens in 1
    vals = ", ".join(f"({i}, '{t}')" for i, t in docs)
    want = sorted(
        tuple(r)
        for r in duckdb.sql(
            containment_join_sql(
                f"SELECT * FROM (VALUES {vals}) t(doc_id, text)",
                "doc_id",
                "text",
                t_num=9,
                t_den=10,
            )
        ).fetchall()
    )
    assert got == want


def test_band_signatures_wide_matches_reference_md5(spark):
    # The wide band path must byte-match the oracle's
    # md5(string_agg(minhash, ',' ORDER BY perm)) per band.
    import hashlib

    wide = dd._minhash_wide(_docs(spark), "doc_id", "text", 8, 3)
    rows = {r["id"]: r for r in wide.collect()}
    got = {
        (r["id"], r["band"]): r["bsig"]
        for r in dd._band_signatures_wide(wide, 8, 4).collect()
    }
    for i, r in rows.items():
        for band in (0, 1):
            ref = ",".join(str(r[f"m{j}"]) for j in range(band * 4, band * 4 + 4))
            assert got[(i, band)] == hashlib.md5(ref.encode()).hexdigest()


def test_minhash_signatures_is_stack_of_wide(spark):
    wide = {
        r["id"]: r for r in dd._minhash_wide(_docs(spark), "doc_id", "text", 8, 3).collect()
    }
    for r in dd.minhash_signatures(_docs(spark), num_hashes=8).collect():
        assert r["minhash"] == wide[r["id"]][f"m{r['perm']}"]


@pytest.mark.parametrize(
    "call, match",
    [
        (lambda d: dd.minhash_lsh_pairs(d, num_hashes=30, bands=8), "bands"),
        (lambda d: dd.minhash_lsh_pairs(d, num_hashes=128, bands=8), "overflow"),
        (lambda d: dd.dedup_against_corpus(d, d, num_hashes=30, bands=8), "bands"),
        (lambda d: dd.dedup_against_corpus(d, d, num_hashes=128, bands=8), "overflow"),
        (lambda d: dd.group_minhash_similarity(d, "doc_id", num_hashes=65), "overflow"),
    ],
    ids=["lsh-bands", "lsh-width", "corpus-bands", "corpus-width", "group-width"],
)
def test_minhash_input_checks_raise_value_error(spark, call, match):
    # Plain raises, not asserts: they must survive ``python -O``, where
    # num_hashes > 64 would silently overflow the h1 + i*h2 hash mix.
    with pytest.raises(ValueError, match=match):
        call(_docs(spark))
