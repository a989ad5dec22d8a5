"""Skew-mitigation join strategies.

AQE's skew-join splitting (on in session.py) handles most skew at
runtime; explicit salting remains the tool when one join key dominates
so badly that even split shuffle partitions overwhelm a task, or when
the engine can't see the skew (e.g. a first-shuffle aggregation). The
transformation is semantics-preserving, so its oracle is the PLAIN join:
salting must change the physical distribution and nothing else.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Row bound below which a frame is safe to broadcast or collect to the
# driver: bounded_broadcast's gate, and the keys that size their own
# broadcast or driver-side paths from parquet footers.
BROADCAST_ROW_LIMIT = 8_000_000


def salted_join(big: DataFrame, small: DataFrame, big_key: str,
                small_key: str, n_salts: int = 8, how: str = "inner"
                ) -> DataFrame:
    """Equi-join with key salting: the big side gets a deterministic salt
    in [0, n_salts) (hash of the whole row's key column value would
    collapse to one salt per key — the point is to SPLIT a hot key, so
    the salt must vary WITHIN a key: derive it from a content hash of
    the big row), and the small side is replicated n_salts times. The
    join key becomes (key, salt), spreading each hot key over n_salts
    shuffle partitions.

    Cost model: small side inflates n_salts x (only acceptable for dim
    tables); big side's shuffle is unchanged in volume but uniform in
    distribution. Result is row-identical to the plain join."""
    # Salt from a hash over all big-side columns: varies within a key,
    # deterministic across runs (no rand() — keeps retries/oracle stable).
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]),
                  F.lit(n_salts)).cast("int")
    b = big.withColumn("_salt", salt)
    s = (small.withColumn("_salt", F.explode(
            F.array(*[F.lit(i) for i in range(n_salts)]))))
    out = b.join(s, (b[big_key] == s[small_key]) & (b["_salt"] == s["_salt"]),
                 how)
    return out.drop("_salt")


def bounded_broadcast(df: DataFrame, sf_dir: str,
                      tables: tuple[str, ...]) -> DataFrame:
    """Broadcast hint GATED on the frame's proven row bound (r11).

    CALLER CONTRACT (ADVICE r11): nothing here validates that `tables`
    actually bounds `df` — the caller must be able to PROVE
    rows(df) <= sum(footer rows of tables) and must state that
    derivation in a comment at the call site (a frame bounded by k
    copies of a dimension names the table k times, e.g.
    ("part", "part")). A wrong tuple silently re-enables an ungated
    broadcast at scale.

    The iterative keys' per-round small frames (surviving nodes,
    label/score vectors, linkage record sides) are checkpointed RDDs
    with unknown stats, so AQE sort-merges the full edge list every
    round; an explicit F.broadcast() fixes that at bench scale but —
    unconditionally — would hard-fail (8 GB broadcast cap / driver
    OOM) at a scale factor where the bounding DIMENSION has grown
    data-sized, exactly the graceful-degradation the plain join kept.
    This gate reads the bounding tables' parquet footers (footer_rows,
    no job): the frame is provably no larger than the sum of its
    bounding dimensions' row counts, so below BROADCAST_ROW_LIMIT the
    hint is safe; above it — or whenever the bound can't be established
    (non-file source, missing table) — the frame is returned unhinted
    and the join degrades to sort-merge, the scale-correct default."""
    total = footer_rows(sf_dir, tables)
    if total is None or total > BROADCAST_ROW_LIMIT:
        return df
    return F.broadcast(df)


def footer_rows(sf_dir: str, tables: tuple[str, ...]) -> int | None:
    """Sum of the named tables' parquet-footer row counts — the no-job
    dimension-size probe behind bounded_broadcast and the r12 fuzzy
    verify gate. None when any footer can't be read (non-file source,
    missing table): callers must treat that as 'bound unknown' and take
    their scale-safe branch."""
    import os

    try:
        import pyarrow.parquet as pq

        total = 0
        for t in tables:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.isdir(path):
                total += sum(
                    pq.read_metadata(os.path.join(path, f)).num_rows
                    for f in os.listdir(path) if f.endswith(".parquet"))
            else:
                total += pq.read_metadata(path).num_rows
    except Exception:
        return None
    return total


def fan_out(df: DataFrame) -> DataFrame:
    """Explicit-N repartition, GATED on the input scan actually being
    narrow — the round-9 generalization of the round-8 parallelism-
    collapse fixes (ml_knn_classify, dedup_embedding, str_fuzzy_match).

    The failure class: a compute-heavy, byte-light pipeline fed
    directly by a scan inherits the scan's split count. On a local
    bench fixture a whole table is 1-2 parquet splits, so a broadcast-
    join probe side or a per-row HOF projection runs its entire
    quadratic/linear compute on 1-2 cores while 30 idle (measured:
    linkage_fellegi_sunter 65.8 s in ONE task generating 27.9M block
    pairs from a 200k-row single-split scan, stage 6 of the r9 audit).
    AQE cannot help — it only ever COALESCES byte-light partitions,
    and its skew splitter looks at shuffle bytes, not compute-per-row.

    The gate: estimate the scan's split count from its input files'
    sizes (`spark.sql.files.maxPartitionBytes` per split). Repartition
    ONLY when the estimate is below half the session's shuffle
    parallelism. On a real cluster a fact-table scan has thousands of
    splits, so this is a structural no-op there — the unconditional
    repartition the r8 fixes used would instead round-robin the whole
    table through one extra exchange for nothing. Non-local storage
    schemes (s3/hdfs/...) skip the repartition for the same reason:
    unknown split counts at that scale mean wide scans. The target
    partition count is the session's shuffle parallelism."""
    import os
    from urllib.parse import urlparse

    spark = df.sparkSession
    try:
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    except ValueError:
        n_parts = 32
    try:
        raw = spark.conf.get("spark.sql.files.maxPartitionBytes",
                             "134217728")
        max_pb = _parse_bytes(raw)
        files = df.inputFiles()
        if not files:
            # In-memory / cached / non-file leaf: width unknown.
            # Mirror the other "can't estimate" bailouts (ADVICE r9):
            # never add an exchange on guesswork.
            return df
        total = 0
        for uri in files:
            parsed = urlparse(uri)
            if parsed.scheme not in ("", "file"):
                return df          # cluster-scale storage: wide scan
            total += os.path.getsize(parsed.path)
        est_splits = max(1, -(-total // max_pb))
    except Exception:
        return df                  # can't estimate -> don't reshuffle
    if est_splits >= max(2, n_parts // 2):
        return df
    return df.repartition(n_parts)


_BYTE_SUFFIX = {"": 1, "b": 1,
                "k": 1024, "kb": 1024,
                "m": 1024 ** 2, "mb": 1024 ** 2,
                "g": 1024 ** 3, "gb": 1024 ** 3,
                "t": 1024 ** 4, "tb": 1024 ** 4,
                "p": 1024 ** 5, "pb": 1024 ** 5}


def _parse_bytes(raw: str, default: int = 134217728) -> int:
    """Spark byte-size conf parser (``128m``, ``134217728b``, plain int).

    The r9 version stripped non-digits, turning '128m' into 128 BYTES —
    inflating est_splits ~1e6x and silently disabling the repartition on
    exactly the narrow scans the gate exists to fix (ADVICE r9). Spark's
    own parser (JavaUtils.byteStringAs) is case-insensitive with
    k/m/g/t/p (+optional 'b') suffixes; anything unparseable falls back
    to Spark's documented 128 MiB default rather than a garbage value."""
    s = str(raw).strip().lower()
    num = s.rstrip("kmgtpb")
    suffix = s[len(num):]
    try:
        return max(1, int(num)) * _BYTE_SUFFIX[suffix]
    except (ValueError, KeyError):
        return default
