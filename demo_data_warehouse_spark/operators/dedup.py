"""Deduplication operators for large-scale training-data pipelines.

All candidate generation is bucket-based (LSH banding / block bucketing)
so the pair space is never O(n²) — the only joins are equi-joins on
bucket keys, which shuffle-partition cleanly at 100 TB. Everything is
JVM-native higher-order functions (transform/aggregate/zip_with) — no
Python UDFs on the hot path.

  exact_dedup      hash-groupBy on the dedup key
  minhash_lsh      word-shingle → minhash signature → banded LSH buckets
                   → candidate pairs → signature-estimated Jaccard
  ngram_jaccard    exact n-gram Jaccard verification for candidate pairs
  simhash          64-bit simhash + 16-bit block buckets → hamming pairs
"""

from __future__ import annotations

import logging
import random

import pandas as pd  # module-level: pandas_udf type-hint resolution
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..reuse import share

_log = logging.getLogger(__name__)


def _cap_hot_buckets(
    exploded: DataFrame, bucket_cols: list[str], max_bucket_size: int, op: str
) -> DataFrame:
    """Degenerate-corpus guard: drop LSH buckets holding more than
    max_bucket_size members before the self-join.

    A k-member bucket emits k(k-1)/2 candidate pairs — one boilerplate
    string repeated 1M times turns a linear-ish candidate join into
    5·10¹¹ pairs inside a single reducer. Oversized buckets are almost
    always degenerate content (empty/boilerplate docs), and a true
    near-dup pair dropped from one hot band can still surface via its
    other bands (the banding redundancy). The drop is LOGGED (bucket
    count + member rows) so silent truncation never reads as coverage.
    """
    sizes = exploded.groupBy(*bucket_cols).agg(F.count("*").alias("__n"))
    over = sizes.where(F.col("__n") > max_bucket_size)
    n_over, n_rows = over.agg(
        F.count("*"), F.coalesce(F.sum("__n"), F.lit(0))
    ).collect()[0]
    if n_over:
        _log.warning(
            "%s: dropped %d hot bucket(s) (%d member rows) over cap %d",
            op, n_over, n_rows, max_bucket_size,
        )
    return exploded.join(over.select(*bucket_cols), bucket_cols, "left_anti")

# 31-bit Mersenne prime: permutations stay in 31-bit space so
# a*h + b < 2^62 never overflows int64 under ANSI mode
_MERSENNE_P = (1 << 31) - 1


def minhash_coeffs(num_hashes: int = 32, seed: int = 42) -> list[tuple[int, int]]:
    """Seeded (a, b) permutation coefficients — shared with SQL oracles."""
    rng = random.Random(seed)
    return [(rng.randrange(1, _MERSENNE_P), rng.randrange(0, _MERSENNE_P)) for _ in range(num_hashes)]


def hash60_sql(x: str) -> str:
    """Portable 60-bit non-negative hash: first 15 hex chars of md5 as
    int. Identical in Spark (conv) and DuckDB ('0x' cast) — lets every
    hash-driven operator be checked against a SQL oracle bit-for-bit."""
    return f"cast(conv(substr(md5({x}), 1, 15), 16, 10) as bigint)"


def _hash_expr(x: str, hash_mode: str) -> str:
    """fast → xxhash64 (JVM-native, ~3× md5 throughput; production
    default). portable → hash60 (engine-portable; used by the driver
    queries so the DuckDB oracle can replay the exact same buckets)."""
    if hash_mode == "portable":
        return hash60_sql(x)
    return f"xxhash64({x})"


def exact_dedup(
    df: DataFrame, key_cols: list[str], id_col: str, hash_key: bool = True
) -> DataFrame:
    """Exact duplicate groups: one keeper (min id) + copy count per key.

    hash_key=True groups by a SHA-256 digest of the key columns instead
    of the raw values: the shuffle then moves 32 bytes per row, not the
    whole document — at 100 TB grouping by raw text would shuffle the
    entire corpus. SHA-256 collisions are cryptographically negligible,
    so the groups are identical. Both modes return the same schema
    (keeper_id, n_copies) — the raw key is never in the output.
    """
    if hash_key:
        # injective framing: hash each column separately (fixed 64-hex
        # digests), NULL → 'n' ('n' is outside the hex alphabet, so no
        # concatenation of parts is ambiguous — no separator byte a
        # value could contain can cause cross-column collisions)
        parts = [
            F.when(F.col(c).isNull(), F.lit("n")).otherwise(
                F.sha2(F.col(c).cast("string"), 256)
            )
            for c in key_cols
        ]
        grouped = df.groupBy(F.sha2(F.concat(*parts), 256).alias("__key"))
    else:
        grouped = df.groupBy(*key_cols)
    return grouped.agg(
        F.min(id_col).alias("keeper_id"),
        F.count("*").alias("n_copies"),
    ).select("keeper_id", "n_copies")


def _with_shingles(df: DataFrame, text_col: str, k: int) -> DataFrame:
    tokens = F.split(F.col(text_col), " ")
    return df.withColumn("__tokens", tokens).withColumn(
        "__shingles",
        F.expr(
            f"array_distinct(transform(sequence(1, greatest(size(__tokens) - {k - 1}, 1)),"
            f" i -> concat_ws(' ', slice(__tokens, i, {k}))))"
        ),
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k_shingle: int = 3,
    num_hashes: int = 32,
    seed: int = 42,
    hash_mode: str = "fast",
) -> DataFrame:
    """(id, sig: array<bigint>[num_hashes]) — minhash over word shingles.

    Permutations h_i(x) = (a_i*x + b_i) mod p over shingle hashes
    (_hash_expr: xxhash64 or portable md5-60); deterministic via seeded
    coefficient generation.
    """
    coeffs = minhash_coeffs(num_hashes, seed)
    sh = _with_shingles(df, text_col, k_shingle).withColumn(
        "__sh_hashes",
        F.expr(f"transform(__shingles, s -> pmod({_hash_expr('s', hash_mode)}, {_MERSENNE_P}L))"),
    )
    mins = [
        F.expr(f"array_min(transform(__sh_hashes, h -> pmod({a}L * h + {b}L, {_MERSENNE_P}L)))")
        for (a, b) in coeffs
    ]
    return sh.select(F.col(id_col).alias("id"), F.array(*mins).alias("sig"))


def _minhash_bands(sigs: DataFrame, num_hashes: int, bands: int, hash_mode: str) -> DataFrame:
    """(id, band_id, band_hash): one row per signature band — the LSH
    bucket keys shared by the self-join and the cross-table join."""
    assert num_hashes % bands == 0
    rows = num_hashes // bands

    def band_hash(j: int):
        if hash_mode == "portable":
            sl = (
                f"concat_ws(',', transform(slice(sig, {j * rows + 1}, {rows}),"
                " v -> cast(v as string)))"
            )
            return F.expr(hash60_sql(sl))
        return F.xxhash64(F.expr(f"slice(sig, {j * rows + 1}, {rows})"))

    band_structs = F.array(
        *[
            F.struct(F.lit(j).alias("band_id"), band_hash(j).alias("band_hash"))
            for j in range(bands)
        ]
    )
    return sigs.select("id", F.explode(band_structs).alias("b")).select(
        "id", F.col("b.band_id").alias("band_id"), F.col("b.band_hash").alias("band_hash")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k_shingle: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    seed: int = 42,
    hash_mode: str = "fast",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded minhash LSH.

    Returns (id_a, id_b, est_jaccard) with id_a < id_b and
    est_jaccard >= threshold (estimated as matching-signature fraction).
    Shuffle profile: one groupless equi-join on (band_id, band_hash)
    buckets + one join back to signatures — no cross product.

    The (id, sig) table has three consumers (band explode + both
    join-back sides, plus the bucket census under max_bucket_size), so
    it is shared for the query's lifetime (reuse.py).
    max_bucket_size drops degenerate hot buckets (see _cap_hot_buckets).
    """
    sigs = share(
        minhash_signatures(df, id_col, text_col, k_shingle, num_hashes, seed, hash_mode)
    )
    exploded = _minhash_bands(sigs, num_hashes, bands, hash_mode)
    if max_bucket_size is not None:
        exploded = _cap_hot_buckets(
            exploded, ["band_id", "band_hash"], max_bucket_size, "minhash_lsh_pairs"
        )
    x, y = exploded.alias("x"), exploded.alias("y")
    cand = (
        x.join(y, on=["band_id", "band_hash"])
        .where(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    a = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    b = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    est = F.expr(
        f"size(filter(zip_with(sig_a, sig_b, (u, v) -> u = v), x -> x)) / {num_hashes}"
    )
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", est.cast("double").alias("est_jaccard"))
        .where(F.col("est_jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    k_shingle: int = 3,
) -> DataFrame:
    """Exact shingle-set Jaccard for given (id_a, id_b) candidate pairs."""
    sh = _with_shingles(df, text_col, k_shingle).select(
        F.col(id_col).alias("id"), F.col("__shingles").alias("sh")
    )
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", jac.cast("double").alias("jaccard"))
    )


def simhash_bits(hash_mode: str) -> int:
    """64 bits with xxhash64; 60 with the portable md5-60 hash."""
    return 60 if hash_mode == "portable" else 64


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, hash_mode: str = "fast"
) -> DataFrame:
    """(id, simhash: bigint) — 64/60-bit simhash over whitespace tokens.

    Shape: explode tokens → hash once per token → ONE hash aggregation
    with n per-bit conditional sums (all whole-stage codegen, map-side
    partials) → assemble the signature from the counts (bit i set iff
    2·count_set(i) > n_tokens, ties → 0 — sign(Σ±1) > 0 exactly).

    The tempting alternative — nested higher-order functions folding a
    per-token ±1 vector — is a trap: Catalyst's projection collapse
    inlines the token-hash fold into the per-bit outer loop, silently
    re-hashing every token n times per document (~60× the md5 work,
    all interpreted). Measured 108s → 2s at 5k docs for this rewrite.

    NULL text yields no tokens and therefore no output row (matches the
    oracle's unnest semantics); empty text hashes its single empty
    token as before.
    """
    n = simhash_bits(hash_mode)
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), " ")).alias("__t"),
    )
    per_tok = toks.select("id", F.expr(_hash_expr("__t", hash_mode)).alias("__h"))
    bit_sums = [
        F.sum(F.shiftright(F.col("__h"), i).bitwiseAND(F.lit(1))).alias(f"__c{i}")
        for i in range(n)
    ]
    counts = per_tok.groupBy("id").agg(F.count("*").alias("__n"), *bit_sums)
    sim = F.lit(0).cast("bigint")
    for i in range(n):
        sim = sim + F.when(
            F.col(f"__c{i}") * 2 > F.col("__n"),
            F.shiftleft(F.lit(1).cast("bigint"), i),
        ).otherwise(F.lit(0).cast("bigint"))
    return counts.select("id", sim.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    hash_mode: str = "fast",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by simhash hamming distance ≤ max_hamming.

    Candidate generation: split the hash into 4 equal blocks (16 or 15
    bits) and bucket-join on any equal block (pigeonhole: hamming ≤ 3 ⇒
    at least one of 4 blocks identical) — never a cross product.

    The signatures are shared for the query's lifetime (reuse.py);
    max_bucket_size: see minhash_lsh_pairs — same degenerate-bucket
    guard.
    """
    bb = simhash_bits(hash_mode) // 4
    mask = (1 << bb) - 1
    sigs = share(simhash_signatures(df, id_col, text_col, hash_mode))
    blocks = sigs.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("block_id"),
                        F.expr(f"(simhash >> {bb * j}) & {mask}").alias("block_val"),
                    )
                    for j in range(4)
                ]
            )
        ).alias("b"),
    ).select("id", "simhash", F.col("b.block_id").alias("block_id"), F.col("b.block_val").alias("block_val"))
    if max_bucket_size is not None:
        blocks = _cap_hot_buckets(
            blocks, ["block_id", "block_val"], max_bucket_size, "simhash_pairs"
        )
    x, y = blocks.alias("x"), blocks.alias("y")
    return (
        x.join(y, on=["block_id", "block_val"])
        .where(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.bit_count(F.col("x.simhash").bitwiseXOR(F.col("y.simhash"))).alias("hamming"),
        )
        # hamming is a pure function of the pair, so filtering BEFORE the
        # distinct is result-identical — and turns the dedup shuffle from
        # |all block-collision candidates| (quadratic in bucket load:
        # ~150M rows at 50k docs) into |near-dup survivors| (tiny). The
        # candidate join itself stays in whole-stage codegen, map-side.
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def embed_cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    round_dp: int = 4,
    max_rows: int | None = 100_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — exact all-pairs baseline.

    Returns (id_a, id_b, cos_sim) with id_a < id_b and
    round(cos_sim, round_dp) > threshold (rounded before comparison so
    float fold order can never flip a boundary pair).

    This is the CORRECTNESS baseline: O(n²) pairs — fine for a corpus
    that fits one shuffle, wrong at 100 TB. The scale path is
    embed_cosine_pairs_lsh (banded sign-LSH buckets → exact verify).
    max_rows is the guard rail for that: the call REFUSES (ValueError)
    corpora above the bound rather than silently planning a 10¹⁰-pair
    join; pass max_rows=None only when the quadratic cost is intended.
    """
    import numpy as np
    import pandas as pd

    n = df.count()
    if max_rows is not None and n > max_rows:
        raise ValueError(
            f"embed_cosine_pairs is an O(n²) baseline: corpus has {n} rows"
            f" > max_rows={max_rows}; use embed_cosine_pairs_lsh for scale"
            " or pass max_rows=None to force"
        )
    # Block-grouped scoring (r12, guide §2.3 "shuffle keys and metadata
    # instead of payloads" / §4.1 column budget). The former shape —
    # nested-loop join materializing every (id_a < id_b) PAIR ROW, each
    # carrying BOTH full vectors across the Arrow boundary into
    # cosine_batch — shipped O(n²·dim) doubles to Python (≈400 GB at
    # 20k×64d). Here ids are hashed into B ≈ n/512 blocks, each vector
    # is replicated to its B+1 block-pair groups (O(n·B·dim) bytes —
    # orders of magnitude less), and one applyInPandas per (p ≤ q)
    # block pair generates AND scores its pairs in numpy. Arithmetic is
    # bit-identical to cosine_batch: ab/aa/bb accumulate SEQUENTIALLY
    # over the dimension index in float64 (outer-product steps perform
    # the same one-multiply-one-add per pair per index), sims =
    # ab / (sqrt(aa)·sqrt(bb)) in the same op order, and pairs are only
    # scored within equal-length cohorts (cosine_batch's mask rule:
    # mismatched or null vectors yield no surviving pair). The final
    # round-then-filter stays Spark-side so the HALF_UP boundary rule
    # matches the SQL oracle; NaN sims (zero vectors) still propagate
    # and survive `> threshold` exactly as before.
    block = 512
    nb = max(1, -(-n // block))  # ceil
    id_type = df.schema[id_col].dataType.simpleString()
    base = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    ).withColumn("g", F.pmod(F.xxhash64("id"), F.lit(nb)).cast("int"))
    left = base.select(
        "id", "v",
        F.col("g").alias("p"),
        F.explode(F.sequence(F.col("g"), F.lit(nb - 1))).alias("q"),
        F.lit(True).alias("is_l"),
    )
    right = base.where(F.col("g") > 0).select(
        "id", "v",
        F.explode(F.sequence(F.lit(0), F.col("g") - 1)).alias("p"),
        F.col("g").alias("q"),
        F.lit(False).alias("is_l"),
    )

    # in-UDF pre-filter margin: the authoritative round-then-threshold
    # stays Spark-side; a raw sim ≤ threshold − margin cannot round
    # (HALF_UP, round_dp ≥ 4 ⇒ |round(x)−x| ≤ 5·10⁻⁵) above threshold,
    # so dropping it early only avoids shipping pairs the Spark filter
    # would discard anyway. NaN sims are KEPT (they survive
    # `> threshold` in Spark — NaN orders above every number).
    margin = 10.0 ** (-(round_dp - 1))

    def _score(key, pdf):
        p, q = key
        lm = pdf["is_l"].to_numpy()
        L = pdf[lm]
        R = L if p == q else pdf[~lm]
        lv = L["v"].to_numpy()
        rv = R["v"].to_numpy()
        lid = L["id"].to_numpy()
        rid = R["id"].to_numpy()
        llen = np.array([-1 if x is None else len(x) for x in lv], dtype=np.int64)
        rlen = llen if p == q else np.array(
            [-1 if x is None else len(x) for x in rv], dtype=np.int64
        )
        out_a, out_b, out_s = [], [], []
        for d in np.unique(llen):
            if d < 0:
                continue
            li = np.nonzero(llen == d)[0]
            ri = li if p == q else np.nonzero(rlen == d)[0]
            if len(li) == 0 or len(ri) == 0:
                continue
            A = np.vstack(lv[li]).astype(np.float64)
            B = A if p == q else np.vstack(rv[ri]).astype(np.float64)
            ab = np.zeros((len(A), len(B)))
            aa = np.zeros(len(A))
            bb = aa if p == q else np.zeros(len(B))
            for t in range(A.shape[1]):
                x, y = A[:, t], B[:, t]
                ab += x[:, None] * y[None, :]
                aa += x * x
                if p != q:
                    bb += y * y
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = ab / (np.sqrt(aa)[:, None] * np.sqrt(bb)[None, :])
            if p == q:
                ai, bi = np.triu_indices(len(A), k=1)
            else:
                ai = np.repeat(np.arange(len(A)), len(B))
                bi = np.tile(np.arange(len(B)), len(A))
            s = sims[ai, bi]
            keep = np.isnan(s) | (s > threshold - margin)
            ai, bi, s = ai[keep], bi[keep], s[keep]
            xa, yb = lid[li[ai]], rid[ri[bi]]
            neq = xa != yb
            xa, yb, s = xa[neq], yb[neq], s[neq]
            swap = yb < xa
            out_a.append(np.where(swap, yb, xa))
            out_b.append(np.where(swap, xa, yb))
            out_s.append(s)
        if not out_a:
            return pd.DataFrame(
                {"id_a": pd.Series([], dtype=object),
                 "id_b": pd.Series([], dtype=object),
                 "_s": pd.Series([], dtype="float64")}
            )
        return pd.DataFrame(
            {"id_a": np.concatenate(out_a),
             "id_b": np.concatenate(out_b),
             "_s": np.concatenate(out_s)}
        )

    scored = (
        left.unionByName(right)
        .groupBy("p", "q")
        .applyInPandas(_score, f"id_a {id_type}, id_b {id_type}, _s double")
    )
    sim = F.round(F.col("_s"), round_dp)
    return scored.select("id_a", "id_b", sim.alias("cos_sim")).where(
        F.col("cos_sim") > threshold
    )


def adaptive_signature_width(
    n: int, rows_per_band: int, ref_n: int, max_extra_bits: int
) -> int:
    """Corpus-adaptive LSH band width (see embed_cosine_pairs_lsh):

        r(n) = rows_per_band + clamp(⌈log2(n / ref_n)⌉, 0, max_extra_bits)

    Named so the unit laws can pin the Python computation against the
    DuckDB replica (`_duck_adaptive_band_ctes`'s `nbits` CTE) over a
    sweep of corpus sizes — both evaluate IEEE-double log2 of the same
    integer ratio, exact at power-of-two multiples of ref_n; a ULP
    flip elsewhere would need n within 2^-50 of a power, impossible
    for bounded integers."""
    import math

    if n <= ref_n:
        return rows_per_band
    return rows_per_band + min(max_extra_bits, math.ceil(math.log2(n / ref_n)))


def embed_cosine_pairs_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    dim: int,
    bands: int = 8,
    rows_per_band: int = 4,
    seed: int = 42,
    round_dp: int = 4,
    max_bucket_size: int | None = None,
    ref_n: int = 2000,
    max_extra_bits: int = 8,
) -> DataFrame:
    """Embedding near-dup pairs at scale: banded random-hyperplane LSH.

    The (id, vector, band-buckets) base has FOUR consumers (both sides
    of the bucket self-join, both vector attachments of the exact
    verify), which otherwise each re-run the scan + Arrow
    sign-projection pass (measured r12: the sf0.1 pair pipeline spent
    ~3 s on 2,000 vectors, almost all repeated stage/Python setup), so
    it is shared for the query's lifetime (reuse.py).

    Each band is r sign bits; ids sharing any band bucket become
    candidates (equi-join on (band, bucket) — never a cross product),
    then exact cosine verifies > threshold. Recall for a pair at angle
    θ is 1-(1-(1-θ/π)^r)^b — with r=4, b=8 a true near-dup (cos ≥ 0.9)
    is caught with p ≈ 0.998, while ~orthogonal pairs are almost never
    candidates, keeping the verify join linear-ish.

    **Adaptive signature width (the fixed-bucket-count scale defect,
    measured round 5):** a fixed r gives 2^r buckets per band FOREVER,
    so accidental bucket occupancy grows as n/2^r and accidental
    candidates as bands·n²/2^r — quadratic. Measured on the 30× crawl
    twin with the old fixed r=8: 36.7M candidates for 60k vectors
    (1,000× the base count for 30× the data). The width therefore
    scales with the corpus:

        r(n) = rows_per_band + clamp(⌈log2(n / ref_n)⌉, 0, max_extra_bits)

    which holds expected accidental occupancy ≈ constant — candidate
    growth LINEAR in n — while each doubling of the corpus adds one
    sign bit (the standard LSH S-curve steepening: candidacy
    concentrates on closer pairs as the corpus grows; the exact verify
    keeps precision exact regardless). ref_n is the corpus size the
    base (bands, rows_per_band) were tuned at, so results at n ≤ ref_n
    use exactly the base parameters. The clamp bounds the literal
    plane table the SQL oracles replay (beyond n = ref_n·2^max_extra,
    occupancy resumes linear growth — raise max_extra_bits in
    production, it only lengthens the seeded plane stream).

    Plane layout is r-INDEPENDENT so the oracles can replay any n:
    band j always owns the seeded stream block
    [j·r_max, (j+1)·r_max) with r_max = rows_per_band+max_extra_bits,
    and uses its first r(n) planes.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from .similarity import cosine_batch

    r_max = rows_per_band + max_extra_bits
    rng = np.random.RandomState(seed)
    planes_full = rng.standard_normal((bands * r_max, dim))
    n = df.count()
    rpb = adaptive_signature_width(n, rows_per_band, ref_n, max_extra_bits)
    # band j bits 0..rpb-1 ← stream rows j*r_max .. j*r_max+rpb-1
    planes = np.vstack(
        [planes_full[j * r_max : j * r_max + rpb] for j in range(bands)]
    )
    rows_per_band = rpb

    # All bands*rows sign projections in ONE Arrow batch pass: the
    # per-plane interpreted HOF fold costs ~20µs·planes per vector
    # (measured 8.8s at 5k vectors × 32 planes); numpy vectorizes
    # ACROSS the batch while accumulating SEQUENTIALLY over dimension
    # index k in float64, so every projection's sign — including a
    # boundary-exact 0.0 — is bit-identical to the fold the SQL oracle
    # replays (same discipline as cosine_batch).
    def _band_buckets(X: "np.ndarray") -> list:
        proj = np.zeros((len(X), planes.shape[0]))
        for k in range(planes.shape[1]):
            proj += X[:, k : k + 1] * planes[:, k]
        bits = proj > 0
        out = np.zeros((len(X), bands), dtype=np.int64)
        for j in range(bands):
            for i in range(rows_per_band):
                out[:, j] += bits[:, j * rows_per_band + i].astype(np.int64) << i
        return list(out)

    @pandas_udf("array<bigint>")
    def _buckets(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype="object")
        from .similarity import _valid_mask

        mask = _valid_mask(vs, dim)
        if mask.all():
            return pd.Series(_band_buckets(np.vstack(vs.to_numpy()).astype(np.float64)))
        # null/mis-sized vector → null bucket array; posexplode then
        # emits no rows for it, so poison rows simply never become
        # candidates (instead of np.vstack killing the task)
        full = np.full(len(vs), None, dtype=object)
        if mask.any():
            full[mask] = _band_buckets(
                np.vstack(vs.to_numpy()[mask]).astype(np.float64)
            )
        return pd.Series(full, dtype=object)

    # ONE shared base carrying the vector AND its band buckets: the
    # sign projection (an Arrow pass) and the scan run once, at cache
    # build, instead of once per consumer.
    e = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
        # asNondeterministic (guide §4.4, same class as cosine_batch):
        # the exploded branch filters on the projected bucket array
        # (isnotnull/size>0 guards), and whenever the base runs
        # uncached (a frame executed after its query's scope was
        # released) the pushed guard would make the optimizer evaluate
        # the full sign-projection UDF twice per consumer.
    ).withColumn("__bkts", _buckets.asNondeterministic()(F.col("v")))
    e = share(e)
    exploded = e.select(
        "id", F.posexplode("__bkts").alias("band_id", "bucket")
    )
    if max_bucket_size is not None:
        exploded = _cap_hot_buckets(
            exploded, ["band_id", "bucket"], max_bucket_size, "embed_cosine_pairs_lsh"
        )
    x, y = exploded.alias("x"), exploded.alias("y")
    cand = (
        x.join(y, on=["band_id", "bucket"])
        .where(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    # exact verification is O(candidates)·O(dim) — Arrow-vectorized,
    # fold-order-identical to the oracle (see cosine_batch). The two
    # vector attachments are ALIASES of the same projection, so their
    # exchanges canonicalize identically and Spark builds the vector
    # relation ONCE (ReusedExchange — guide §2.4: share one exchange),
    # where the old named-column twin projections built it twice.
    ev = e.drop("__bkts")
    ea, eb = ev.alias("ea"), ev.alias("eb")
    sim = F.round(cosine_batch(F.col("ea.v"), F.col("eb.v")), round_dp)
    return (
        cand.join(ea, F.col("id_a") == F.col("ea.id"))
        .join(eb, F.col("id_b") == F.col("eb.id"))
        .select("id_a", "id_b", sim.alias("cos_sim"))
        .where(F.col("cos_sim") > threshold)
    )


def levenshtein_pairs(
    df: DataFrame,
    str_col: str,
    block_col: str,
    max_dist: int,
) -> DataFrame:
    """Blocked fuzzy string matching: distinct strings sharing a block
    key are compared by edit distance; pairs within max_dist survive.

    The block key (a cheap canonical feature of the string — last
    token, soundex, length bucket, ...) turns the O(n²) all-pairs edit-
    distance problem into an equi-join whose cost is Σ|block|², the
    same candidate-generation discipline as the LSH dedup family:
    never a cross product, and the quadratic term is bounded by the
    largest block, not the corpus. Dedup the strings first — identical
    strings re-occurring millions of times must not multiply pairs.

    Returns (s_a, s_b, edit_dist) with s_a < s_b.
    """
    e = df.select(F.col(str_col).alias("s"), F.col(block_col).alias("blk")).distinct()
    x, y = e.alias("x"), e.alias("y")
    return (
        x.join(y, on="blk")
        .where(F.col("x.s") < F.col("y.s"))
        .select(
            F.col("x.s").alias("s_a"),
            F.col("y.s").alias("s_b"),
            F.levenshtein(F.col("x.s"), F.col("y.s")).cast("bigint").alias("edit_dist"),
        )
        .where(F.col("edit_dist") <= max_dist)
    )


def setsim_join_prefix(
    tokens: DataFrame,
    id_col: str,
    token_col: str,
    tau_num: int,
    tau_den: int,
) -> DataFrame:
    """Exact all-pairs set-similarity join with PREFIX FILTERING (the
    ppjoin/AllPairs family, Bayardo et al. WWW'07): every document pair
    with token-set Jaccard >= tau_num/tau_den, without enumerating n²
    pairs and WITHOUT the LSH family's false-negative risk — prefix
    filtering is lossless.

    The pruning theorem: order all tokens by a global total order
    (rarest first); if Jaccard(A,B) >= τ then A and B must share at
    least one token among each one's first |X| - ceil(τ·|X|) + 1
    ordered tokens. So candidates are an equi-join on PREFIX tokens
    only — rare tokens generate tiny buckets, and the frequent tokens
    that would explode a full token inverted index never enter the
    prefix. Verification then computes exact intersection counts for
    candidates alone, and the τ test cross-multiplies to integers
    (den·∩ >= num·(|A|+|B|−∩)) so the boundary is exact.

    Two further LOSSLESS prunes run at candidate generation, before the
    dedup shuffle and the verify joins — they matter exactly when
    duplicate density grows faster than vocabulary (crawl regime),
    where prefix posting lists fatten and candidates go quadratic:

    - length filter (AllPairs): Jaccard >= τ forces τ·max(|A|,|B|) <=
      min(|A|,|B|), cross-multiplied to den·min >= num·max.
    - positional filter (ppjoin, Xiao et al. WWW'08): a shared prefix
      token at 1-indexed global-order positions (pa, pb) bounds the
      intersection by 1 + min(|A|−pa, |B|−pb), because every shared
      token sits at position >= pa in A and >= pb in B. The pair's
      FIRST shared token carries the loosest bound, so filtering rows
      where 1 + min(|A|−pa, |B|−pb) < minoverlap and THEN taking
      DISTINCT pairs never drops a true pair (minoverlap =
      ceil(num·(|A|+|B|)/(num+den)), the integer form of I >=
      τ/(1+τ)·(|A|+|B|)).

    Scale notes: the global token order needs a vocabulary-sized rank —
    computed with a single-partition window over the DISTINCT vocab
    (bounded by vocabulary, not corpus; swap in a zipWithIndex-style
    two-phase rank if the vocabulary itself outgrows one task). All
    other steps are doc- or token-keyed equi-joins and aggregations.
    Verification joins each candidate pair to the two docs' token
    ARRAYS (collect_list per doc — doc-sized rows, id-keyed equi-joins)
    and counts `array_intersect` in codegen, instead of re-exploding
    candidates against the postings and aggregating by pair: that
    exploded form shuffles |cands|·|doc| rows twice plus a pair-keyed
    groupBy, and was 4.7× slower on a 10× near-duplicate corpus (81s →
    17s end-to-end, measured via scripts/scale_check.py). When
    duplicate CLUSTERS grow with the corpus, the true output is itself
    quadratic in cluster size — for 100 TB discovery use the
    bucket-capped minhash path and reserve this exact join for
    within-bucket verification.

    `tokens`: (id, token) pairs, pre-deduplicated per document (set
    semantics). Returns (id_a, id_b, inter, union_sz) with id_a < id_b.

    `tokens` has FOUR consumers (doc sizes, vocabulary frequency, the
    ranked prefix derivation, the verify-side doc arrays), each of
    which re-runs the caller's tokenization plan. The operator does not
    share it; a caller whose tokenization is expensive passes
    `reuse.share(tokens)` to run it once per query.
    """
    from pyspark.sql import Window

    tok = tokens.select(F.col(id_col).alias("id"), F.col(token_col).alias("token"))
    sizes = tok.groupBy("id").agg(F.count("*").alias("sz"))
    freq = tok.groupBy("token").agg(F.count("*").alias("tf"))
    # global total order: rarest first, token string as the tiebreak
    vocab_rank = freq.withColumn(
        "trank", F.row_number().over(Window.orderBy("tf", "token"))
    ).select("token", "trank")
    ranked = (
        tok.join(vocab_rank, "token")
        .join(sizes, "id")
        .withColumn(
            "rn", F.row_number().over(Window.partitionBy("id").orderBy("trank"))
        )
    )
    # prefix_len = sz - ceil(τ·sz) + 1;  ceil(num·sz/den) = (num·sz+den−1) DIV den
    prefix = ranked.where(
        F.col("rn")
        <= F.col("sz")
        - F.expr(f"({tau_num} * sz + {tau_den} - 1) DIV {tau_den}")
        + 1
    ).select("id", "token", "rn", "sz")
    # minoverlap = ceil(num·(sz_a+sz_b) / (num+den))
    minoverlap = F.expr(
        f"({tau_num} * (sz_a + sz_b) + {tau_num} + {tau_den} - 1)"
        f" DIV ({tau_num} + {tau_den})"
    )
    cands = (
        prefix.alias("pa")
        .join(prefix.alias("pb"), "token")
        .where(F.col("pa.id") < F.col("pb.id"))
        .select(
            F.col("pa.id").alias("id_a"),
            F.col("pb.id").alias("id_b"),
            F.col("pa.rn").alias("rn_a"),
            F.col("pb.rn").alias("rn_b"),
            F.col("pa.sz").alias("sz_a"),
            F.col("pb.sz").alias("sz_b"),
        )
        # length filter: den·min(sz) >= num·max(sz)
        .where(
            F.lit(tau_den) * F.least("sz_a", "sz_b")
            >= F.lit(tau_num) * F.greatest("sz_a", "sz_b")
        )
        # positional filter: 1 + min(sz−rn) >= minoverlap at SOME shared
        # prefix token (the first shared token passes for any true pair)
        .where(
            F.lit(1)
            + F.least(
                F.col("sz_a") - F.col("rn_a"), F.col("sz_b") - F.col("rn_b")
            )
            >= minoverlap
        )
        .select("id_a", "id_b")
        .distinct()
    )
    doc_arrays = tok.groupBy("id").agg(F.collect_list("token").alias("toks"))
    inter = (
        cands.join(
            doc_arrays.select(F.col("id").alias("id_a"), F.col("toks").alias("ta")),
            "id_a",
        )
        .join(
            doc_arrays.select(F.col("id").alias("id_b"), F.col("toks").alias("tb")),
            "id_b",
        )
        # exact because `tokens` is set-semantic per document (see
        # contract below): array_intersect over duplicate-free arrays
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("ta", "tb")).cast("bigint").alias("inter"),
        )
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .where(
            F.lit(tau_den) * F.col("inter")
            >= F.lit(tau_num) * (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
        )
        .select(
            "id_a",
            "id_b",
            "inter",
            (F.col("sz_a") + F.col("sz_b") - F.col("inter")).alias("union_sz"),
        )
    )


def minhash_lsh_join(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    text_col: str,
    k_shingle: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    seed: int = 42,
    hash_mode: str = "fast",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Cross-TABLE similarity join: near-duplicate (left, right) pairs
    via shared minhash band buckets — the probe-vs-corpus form of
    minhash_lsh_pairs (eval-set decontamination, re-crawl matching,
    query-by-document retrieval). Returns (id_a, id_b, est_jaccard)
    with id_a from `left`, id_b from `right`.

    Scale: both sides shuffle only on (band_id, band_hash) — candidate
    count rides bucket co-occupancy, never |left|×|right|. Signatures
    are per-row, so each side can be computed (and at 100 TB,
    pre-materialized) independently with the same seeded coefficients.
    """

    def bandize(df: DataFrame):
        sigs = minhash_signatures(df, id_col, text_col, k_shingle, num_hashes, seed, hash_mode)
        return sigs, _minhash_bands(sigs, num_hashes, bands, hash_mode)

    sigs_l, ex_l = bandize(left)
    sigs_r, ex_r = bandize(right)
    if max_bucket_size is not None:
        ex_l = _cap_hot_buckets(ex_l, ["band_id", "band_hash"], max_bucket_size, "minhash_lsh_join.left")
        ex_r = _cap_hot_buckets(ex_r, ["band_id", "band_hash"], max_bucket_size, "minhash_lsh_join.right")
    cand = (
        ex_l.select(F.col("id").alias("id_a"), "band_id", "band_hash")
        .join(ex_r.select(F.col("id").alias("id_b"), "band_id", "band_hash"), ["band_id", "band_hash"])
        .select("id_a", "id_b")
        .distinct()
    )
    a = sigs_l.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    b = sigs_r.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    est = F.expr(
        f"size(filter(zip_with(sig_a, sig_b, (u, v) -> u = v), x -> x)) / {num_hashes}"
    )
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", est.cast("double").alias("est_jaccard"))
        .where(F.col("est_jaccard") >= threshold)
    )
