"""Physical decisions: lineage cuts, size probes, broadcast bounds and
fan-out widths. A key says what it computes; how its plan runs is
decided here, and call sites keep only the reason they cut, broadcast
or widen.

Lineage cut (``cut``). Rule: every call site cuts, lazily
(``localCheckpoint(eager=False)``): iterative keys per round, so the
plan does not grow with the round count, and a subtree read by several
consumers, so it is computed once. Bound: none yet. Fail-safe: nothing
runs at build time, and ``release`` frees the blocks. Call sites look
the name up at each call (``df.transform(physical.cut)``, never an
imported ``cut``), so plan inspection swaps in ``lambda df: df`` and
sees the unrolled plan.

Size probe (``footer_rows``). Rule: the sum of parquet-footer row
counts; no Spark job, no data read. Fail-safe: ``None`` when any footer
can't be read (non-file source, missing table).

Broadcast bound (``broadcastable``, ``bounded_broadcast``). Rule: a
frame whose proven row bound is at most ``BROADCAST_ROW_LIMIT`` may be
broadcast or collected to the driver. Fail-safe: an unknown bound is
not broadcastable, and the join degrades to sort-merge.

Fan-out width (``parallelism``, ``fan_width``, ``fan_out``). Rule: a
compute-heavy stage fed directly by a scan inherits the scan's split
count (measured: linkage_fellegi_sunter ran 65.8 s in ONE task on a
single-split scan; AQE only coalesces, and its skew split looks at
shuffle bytes, not compute per row). Widen it to the session's shuffle
parallelism when input bytes / ``maxPartitionBytes`` is under half of
it. A cluster fact scan has thousands of splits, so this is a no-op
there. Fail-safe: no estimate (in-memory leaf, non-local storage,
unreadable file) means no extra exchange.

``salted_join`` also lives here: it changes a join's physical
distribution and nothing else.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BROADCAST_ROW_LIMIT = 8_000_000


def cut(df: DataFrame) -> DataFrame:
    """``df`` with its lineage cut; its first action materializes it."""
    return df.localCheckpoint(eager=False)


def release(spark: SparkSession) -> None:
    """Free every cached table and persisted RDD block, cut blocks
    included. The ContextCleaner frees unreachable blocks only
    asynchronously, and a long single-JVM run outpaces it (an sf1 sweep
    died at key ~450/674 before it released between keys)."""
    spark.catalog.clearCache()
    try:
        for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            jrdd.unpersist(False)
    except Exception:
        pass


def _parquet_files(path: str) -> list[str]:
    if os.path.isdir(path):
        return [os.path.join(path, f) for f in sorted(os.listdir(path))
                if f.endswith(".parquet")]
    return [path]


def footer_rows(where: str, tables: tuple[str, ...] = ()) -> int | None:
    """Footer row count of ``tables`` under the ``where`` directory, or
    of the file or table directory ``where`` when no table is named."""
    try:
        import pyarrow.parquet as pq

        paths = ([os.path.join(where, f"{t}.parquet") for t in tables]
                 if tables else [where])
        return sum(pq.read_metadata(f).num_rows
                   for p in paths for f in _parquet_files(p))
    except Exception:
        return None


def broadcastable(rows: int | None) -> bool:
    return rows is not None and rows <= BROADCAST_ROW_LIMIT


def bounded_broadcast(df: DataFrame, sf_dir: str,
                      tables: tuple[str, ...]) -> DataFrame:
    """``df`` with a broadcast hint when the footer rows of ``tables``
    are broadcastable, else ``df``.

    CALLER CONTRACT: nothing here checks that ``tables`` bounds ``df``.
    The call site proves rows(df) <= sum(footer rows of tables) in a
    comment (a frame bounded by k copies of a dimension names it k
    times, e.g. ("part", "part")); a wrong tuple re-enables an ungated
    broadcast at scale. The iterative keys' per-round small frames are
    cut RDDs with unknown stats, so without the hint AQE sort-merges the
    full edge list every round."""
    if not broadcastable(footer_rows(sf_dir, tables)):
        return df
    return F.broadcast(df)


def parallelism(spark: SparkSession) -> int:
    """The shuffle width Spark itself uses (200 when the session never
    set it); the context's default parallelism when the conf is not a
    number (``auto`` on managed platforms)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        return spark.sparkContext.defaultParallelism


def fan_width(spark: SparkSession, paths: list[str]) -> int | None:
    """The width to widen a stage over a scan of ``paths`` (files, table
    directories or ``file:`` URIs) to, or None to leave it as it is."""
    from urllib.parse import urlparse

    if not paths:
        return None
    try:
        max_pb = _parse_bytes(spark.conf.get(
            "spark.sql.files.maxPartitionBytes", "134217728"))
        total = 0
        for uri in paths:
            parsed = urlparse(uri)
            if parsed.scheme not in ("", "file"):
                return None
            total += sum(os.path.getsize(f)
                         for f in _parquet_files(parsed.path))
    except Exception:
        return None
    n_parts = parallelism(spark)
    if max(1, -(-total // max_pb)) >= max(2, n_parts // 2):
        return None
    return n_parts


def fan_out(df: DataFrame) -> DataFrame:
    """``df`` round-robin repartitioned to the ``fan_width`` of its
    input files, or ``df`` itself."""
    try:
        width = fan_width(df.sparkSession, df.inputFiles())
    except Exception:
        return df
    return df if width is None else df.repartition(width)


_BYTE_SUFFIX = {"": 1, "b": 1,
                "k": 1024, "kb": 1024,
                "m": 1024 ** 2, "mb": 1024 ** 2,
                "g": 1024 ** 3, "gb": 1024 ** 3,
                "t": 1024 ** 4, "tb": 1024 ** 4,
                "p": 1024 ** 5, "pb": 1024 ** 5}


def _parse_bytes(raw: str, default: int = 134217728) -> int:
    """Spark's byte-size conf syntax (``128m``, ``134217728b``, a plain
    int; case-insensitive k/m/g/t/p with an optional b, as
    JavaUtils.byteStringAs). Stripping non-digits instead reads '128m'
    as 128 bytes and silently disables the widening; anything
    unparseable is Spark's documented 128 MiB default."""
    s = str(raw).strip().lower()
    num = s.rstrip("kmgtpb")
    suffix = s[len(num):]
    try:
        return max(1, int(num)) * _BYTE_SUFFIX[suffix]
    except (ValueError, KeyError):
        return default


def salted_join(big: DataFrame, small: DataFrame, big_key: str,
                small_key: str, n_salts: int = 8, how: str = "inner"
                ) -> DataFrame:
    """Equi-join with key salting, for a key so hot that even AQE's
    split partitions overwhelm a task, or a skew the engine can't see
    (a first-shuffle aggregation). Row-identical to the plain join,
    which is its oracle.

    The big side's salt in [0, n_salts) is a content hash of the whole
    row, so it varies WITHIN a key (no rand(): retries and the oracle
    stay stable); the small side is replicated n_salts times (dimension
    tables only), and each hot key spreads over n_salts partitions."""
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]),
                  F.lit(n_salts)).cast("int")
    b = big.withColumn("_salt", salt)
    s = (small.withColumn("_salt", F.explode(
            F.array(*[F.lit(i) for i in range(n_salts)]))))
    out = b.join(s, (b[big_key] == s[small_key]) & (b["_salt"] == s["_salt"]),
                 how)
    return out.drop("_salt")
