"""portable_hash64: the Spark column, the DuckDB SQL fragment, and the
round-7 Python mirror must agree bit-for-bit — every guarded local tier
(MIS, coloring, matching, percolation sampling) rides on this.  The md5
hash is the only hash: no public function offers another."""

import ast
import inspect
from pathlib import Path

import duckdb
from pyspark.sql import functions as F

import polars_grouper_spark
from polars_grouper_spark.functions.hashing import (
    hash_pair64,
    hash_pair64_sql,
    portable_hash64,
    portable_hash64_py,
    portable_hash64_sql,
)
from polars_grouper_spark.operators import pagerank

SAMPLES = [
    "a", "", "node|0", "P123|S456|perc", "ünïcödé|7", "x" * 300,
    "m17|m3|42", "tab\tand\nnewline",
]


def test_python_mirror_matches_spark_column(spark):
    df = spark.createDataFrame([(s,) for s in SAMPLES], ["s"])
    got = {
        r["s"]: r["h"]
        for r in df.select("s", portable_hash64(F.col("s")).alias("h")).collect()
    }
    for s in SAMPLES:
        assert got[s] == portable_hash64_py(s), f"mirror mismatch for {s!r}"


def test_python_mirror_matches_duckdb_sql():
    con = duckdb.connect()
    frag = portable_hash64_sql("?")
    for s in SAMPLES:
        want = con.execute(f"SELECT {frag}", [s]).fetchone()[0]
        assert want == portable_hash64_py(s), f"sql mismatch for {s!r}"


def test_hash_pair64_matches_duckdb_sql(spark):
    # MinHash, group_minhash_similarity and feature_hashing all mix
    # (h1, h2); both halves must replay exactly in the oracle.
    df = spark.createDataFrame([(s,) for s in SAMPLES], ["s"])
    h1, h2 = hash_pair64("s")
    got = {
        r["s"]: (r["h1"], r["h2"])
        for r in df.select("s", h1.alias("h1"), h2.alias("h2")).collect()
    }
    con = duckdb.connect()
    f1, f2 = hash_pair64_sql("?")
    for s in SAMPLES:
        want = con.execute(f"SELECT {f1}, {f2}", [s, s]).fetchone()
        assert got[s] == want, f"hash_pair64 mismatch for {s!r}"


def test_no_engine_choice_options():
    """No function takes ``portable`` (md5 is the only hash), and the
    PageRank variants derive their broadcast / bucketing choices."""
    root = Path(polars_grouper_spark.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = node.args
                names = [x.arg for x in a.posonlyargs + a.args + a.kwonlyargs]
                if "portable" in names:
                    offenders.append(f"{path.relative_to(root)}:{node.name}")
    assert offenders == []
    for fn in (
        pagerank.page_rank_nodes,
        pagerank.personalized_page_rank,
        pagerank.weighted_page_rank_nodes,
    ):
        assert "broadcast_ranks" not in inspect.signature(fn).parameters
    params = inspect.signature(pagerank.page_rank_nodes_bucketed).parameters
    assert "table_name" not in params and "n_buckets" not in params
