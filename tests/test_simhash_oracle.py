"""dedup_simhash's independent Python oracle (tools/simhash_oracle.py):
md5-derived 64-bit hash parity with Spark's conv(md5) expression, and
full candidate-set equality — the deterministic second witness alongside
the DuckDB SQL oracle."""

from __future__ import annotations

import sys

import duckdb
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo/tools")

from simhash_oracle import expected_pairs, h64  # noqa: E402

SF = "/root/testdata/sf0.001"


@pytest.mark.parametrize("s", [
    "", "a", "ab", "abc", "abcd", "hello world",
    "the quick brown fox jumps over the lazy dog",
    "x" * 31, "y" * 32, "z" * 100, "unicode: café ☃",
])
def test_h64_matches_spark_and_duckdb(spark, s):
    # Spark: the 64-bit md5 prefix simhash_pairs() votes with, as bits.
    [(b,)] = (spark.createDataFrame([(s,)], ["s"])
              .select(F.lpad(F.conv(F.substring(F.md5("s"), 1, 16), 16, 2),
                             64, "0")).collect())
    assert int(b, 2) == h64(s)
    # DuckDB: the oracle's parse of the same 16 hex chars.
    [(u,)] = duckdb.sql(
        "SELECT ('0x' || substr(md5(?), 1, 16))::UBIGINT", params=[s]
    ).fetchall()
    assert u == h64(s)


def test_candidate_set_equality(spark):
    from excel_to_db_spark.queries import REGISTRY

    docs = duckdb.sql(
        f"SELECT doc_id, text FROM '{SF}/documents.parquet'").fetchall()
    exp = expected_pairs(docs, max_hamming=3, n_blocks=4)
    got = {(r.d1, r.d2, r.hamming)
           for r in REGISTRY["dedup_simhash"].fn(spark, SF).collect()}
    assert got == exp and len(got) > 0
