"""File-level bloom-filter index for point lookups on unsorted,
high-cardinality keys — the Delta bloom-index / Iceberg puffin analog.

Min/max footer stats (io.py::parquet_footer_stats) and clustering
(scan_clustered_skip, zorder) skip files only when the key is SORTED
into the layout; a point lookup on a key the table is NOT laid out by
(the second access path: event_id when the table is day-partitioned)
reads every file. A bloom index fixes that: per data file, k hashed
bit positions per key value; a lookup probes its k positions and reads
only files where all k are set. No false negatives (every file truly
containing the value matches), bounded false positives (a stray file
read, never a wrong answer — the data filter re-checks).

Representation is relational on purpose: the index is a (file, bit)
parquet table, built in ONE distributed pass (input_file_name +
explode(k positions) + distinct), and probing is a tiny aggregation on
the index — no driver-side bitset assembly, so building the index over
a 100 TB table is an ordinary shuffle bounded by k·|distinct keys per
file|, and the index itself can be partitioned by bit range if it
grows. Hashing is ONE portable md5 per value whose two 60-bit halves
drive Kirsch–Mitzenmacher double hashing (pos_j = h1 + j·h2 mod m) —
k positions for one digest, recomputable anywhere (positions_py).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import atomic_write, parquet_files

K_HASHES = 7
M_BITS = 1 << 15  # floor; build sizes the array up from measured file rows
BITS_PER_KEY = 10  # m/n ≈ 10 with k=7 → ~1% false-positive rate
_META_NAME = "_bloom_meta.json"  # "_"-prefixed: invisible to parquet scans
# Hash-scheme version tag, recorded in the sidecar at build time and
# REQUIRED by every probe. The bit positions an index stores are a pure
# function of the scheme (v1: one md5 per seed; v2: Kirsch–Mitzenmacher
# double hashing over two 60-bit md5 halves) — probing a v1 index with
# v2 positions yields bloom FALSE NEGATIVES: silently dropped rows, a
# violation of the module's no-false-negatives contract. A missing or
# mismatched tag therefore raises, forcing a rebuild instead of a wrong
# answer (ADVICE r6).
HASH_SCHEME = "md5-km-v2"


def _positions_from_halves(h1: str, h2: str, m_bits: int) -> str:
    """k positions from two 60-bit hash halves via Kirsch–Mitzenmacher
    double hashing: pos_j = (h1 + j·h2) mod m. h2 is forced odd so the
    k positions stay distinct under a power-of-two modulus; the sum is
    bounded by 7·2^60 < 2^63, so the arithmetic never overflows int64."""
    pos = [f"pmod({h1} + {j} * {h2}, {m_bits})" for j in range(K_HASHES)]
    return f"array({', '.join(pos)})"


def _positions_expr(col: str, m_bits: int = M_BITS) -> str:
    """k bloom positions of a column value: ONE md5 per value (not k) —
    the two 60-bit halves of the digest drive Kirsch–Mitzenmacher
    double hashing. Inline form (md5 repeated textually) for tests and
    one-off probes; codegen's common-subexpression elimination collapses
    the repeats, and build_bloom_index materializes the halves once
    explicitly anyway."""
    h = f"md5(cast({col} as string))"
    h1 = f"cast(conv(substr({h}, 1, 15), 16, 10) as bigint)"
    h2 = f"(cast(conv(substr({h}, 16, 15), 16, 10) as bigint) | 1)"
    return _positions_from_halves(h1, h2, m_bits)


def positions_py(value, m_bits: int = M_BITS) -> list[int]:
    """Pure-Python twin of _positions_expr (same digest, same halves)."""
    import hashlib

    h = hashlib.md5(str(value).encode()).hexdigest()
    h1 = int(h[:15], 16)
    h2 = int(h[15:30], 16) | 1
    return [(h1 + j * h2) % m_bits for j in range(K_HASHES)]


def _sized_m_bits(data_root: str) -> int:
    """Bit-array size from MEASURED per-file row counts (parquet footer
    metadata only — no data pass): a fixed m saturates as files grow
    (at 10× the keys the false-positive rate hits 1 and every probe
    matches every file — measured on the 10× scale twin), so m scales
    as the next power of two ≥ BITS_PER_KEY · max(rows per file),
    floored at M_BITS so small tables keep the historical positions.
    Row count over-estimates distinct keys, which only oversizes m —
    never a saturated filter. At 100 TB this is the same footer listing
    any planner does; rows-per-file is bounded by the writer's target
    file size, not the table."""
    import pyarrow.parquet as pq

    max_rows = max(
        (pq.ParquetFile(p).metadata.num_rows for p in parquet_files(data_root)),
        default=0,
    )
    m = M_BITS
    while m < BITS_PER_KEY * max_rows:
        m <<= 1
    return m


def _read_m_bits(index_root: str) -> int:
    """Bit-array size from the sidecar, validating the hash-scheme tag.

    Refuses to probe an index whose sidecar is missing or carries a
    GENUINELY different scheme tag: the stored bit positions would not
    match the positions this probe computes, and a mismatched probe
    fails in the silent direction — false negatives (dropped rows),
    not extra IO. Loud rebuild beats quiet wrong answers.

    A sidecar that carries m_bits but no 'hash' key is implicitly v2:
    every sidecar ever written with m_bits predates only the TAG, not
    the hashing — the Kirsch–Mitzenmacher position code is unchanged
    across that range, so its positions ARE this probe's positions and
    forcing a rebuild would be pure waste (ADVICE r7). The hard error
    is reserved for an explicit, different scheme value.
    """
    meta = os.path.join(index_root, _META_NAME)
    if not os.path.exists(meta):
        raise ValueError(
            f"bloom index at {index_root!r} has no {_META_NAME} sidecar: "
            "it predates the metadata format and its bit positions are "
            "not recoverable — rebuild it with build_bloom_index()."
        )
    with open(meta) as fh:
        info = json.load(fh)
    scheme = info.get("hash", HASH_SCHEME if "m_bits" in info else None)
    if scheme != HASH_SCHEME:
        raise ValueError(
            f"bloom index at {index_root!r} was built with hash scheme "
            f"{scheme!r} but this probe computes {HASH_SCHEME!r} positions; "
            "probing across schemes yields false negatives — rebuild it "
            "with build_bloom_index()."
        )
    return int(info["m_bits"])


def build_bloom_index(
    spark: SparkSession, data_root: str, col: str, index_root: str
) -> None:
    """One pass over the table: per file, the distinct set bits of all
    its values. Written as a (file, bit) parquet index plus a sidecar
    meta file carrying the measured bit-array size (the probe must hash
    with the SAME modulus the build used)."""
    m_bits = _sized_m_bits(data_root)
    df = spark.read.parquet(data_root)
    idx = (
        df.select(
            F.input_file_name().alias("file"),
            F.expr(f"md5(cast({col} as string))").alias("_h"),
        )
        .select(
            "file",
            F.expr("cast(conv(substr(_h, 1, 15), 16, 10) as bigint)").alias("_h1"),
            F.expr("cast(conv(substr(_h, 16, 15), 16, 10) as bigint) | 1").alias("_h2"),
        )
        .select(
            "file",
            F.explode(F.expr(_positions_from_halves("_h1", "_h2", m_bits))).alias("bit"),
        )
        .distinct()
    )
    idx.write.mode("overwrite").parquet(index_root)
    # atomic_write: the sidecar is REQUIRED by every probe, so a crash
    # mid-write must leave either the old sidecar or the new one, never
    # a truncated file that turns the designed rebuild-me error into a
    # JSONDecodeError.
    atomic_write(
        os.path.join(index_root, _META_NAME),
        json.dumps({"m_bits": m_bits, "k": K_HASHES, "hash": HASH_SCHEME}),
    )


def bloom_candidate_files(
    spark: SparkSession, index_root: str, value
) -> list[str]:
    """Files whose bloom has ALL k bits of `value` set."""
    probes = positions_py(value, _read_m_bits(index_root))
    idx = spark.read.parquet(index_root)
    hits = (
        idx.where(F.col("bit").isin(*{int(p) for p in probes}))
        .groupBy("file")
        .agg(F.countDistinct("bit").alias("n"))
        .where(F.col("n") == len(set(probes)))
    )
    return [r.file for r in hits.collect()]


def bloom_candidate_files_multi(
    spark: SparkSession, index_root: str, values: list
) -> dict:
    """Candidate files for a BATCH of values in one index scan.

    The scale shape for IN-list / multi-key point lookups: the (value,
    bit) probe set broadcasts against the index once, so N lookups cost
    one aggregation instead of N — the index read is amortized exactly
    like a data-file scan amortizes over an IN-list. Returns
    {value: [files with all k bits set]} (missing values → empty list).
    """
    m_bits = _read_m_bits(index_root)
    need = {str(v): len(set(positions_py(v, m_bits))) for v in values}
    probes = [
        (str(v), int(b))
        for v in values
        for b in sorted(set(positions_py(v, m_bits)))
    ]
    pdf = spark.createDataFrame(probes, "value string, bit bigint")
    idx = spark.read.parquet(index_root)
    hits = (
        idx.join(F.broadcast(pdf), "bit")
        .groupBy("value", "file")
        .agg(F.countDistinct("bit").alias("n"))
        .collect()
    )
    out: dict = {v: [] for v in values}
    by_str = {str(v): v for v in values}
    for r in hits:
        if r["n"] == need[r["value"]]:
            out[by_str[r["value"]]].append(r["file"])
    return out


def bloom_point_lookup(
    spark: SparkSession, data_root: str, index_root: str, col: str, value
) -> tuple[DataFrame, int, int]:
    """Point lookup via the index: returns (rows, files_read,
    files_total). The data-side equality filter re-checks, so bloom
    false positives cost IO only, never correctness."""
    files = bloom_candidate_files(spark, index_root, value)
    total = len(parquet_files(data_root))
    if not files:
        empty = spark.read.parquet(data_root).where(F.lit(False))
        return empty, 0, total
    df = spark.read.parquet(*files).where(F.col(col) == value)
    return df, len(files), total
