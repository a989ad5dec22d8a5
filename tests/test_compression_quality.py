"""Witness for the compression-quality key: its LZ-complexity contract
must match a pure-Python recomputation (the oracle gate covers DuckDB
equality)."""

from __future__ import annotations

import pyarrow.parquet as pq


def test_compression_key_matches_python_lz_proxy(spark, sf_dir):
    from excel_to_db_spark.queries.quality import text_compression_quality

    tb = pq.read_table(f"{sf_dir}/documents.parquet",
                       columns=["doc_id", "text"])
    stats = {}
    for did, text in zip(tb.column("doc_id").to_pylist(),
                         tb.column("text").to_pylist()):
        if len(text) < 8:
            continue
        grams = [text[i:i + 8] for i in range(len(text) - 7)]
        stats[did] = (len(text), len(grams), len(set(grams)))
    top = sorted(stats.items(),
                 key=lambda kv: (kv[1][2] / kv[1][1], kv[0]))[:20]
    got = text_compression_quality(spark, sf_dir).collect()
    assert len(got) == 20
    for row, (did, (raw, n, nd)) in zip(got, top):
        assert (row["doc_id"], row["raw_chars"],
                row["n_grams8"], row["n_distinct8"]) == (did, raw, n, nd)
        assert row["compression_ratio"] == round(nd / n, 5)
