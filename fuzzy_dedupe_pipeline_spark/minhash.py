"""Shingling + MinHash + SimHash signatures.

Role parity: the reference turns each record into fixed-width signatures whose
similarity approximates record similarity (sentence-transformer embeddings,
dedupe_logic/processor.py:62-108). Per the north rule we substitute:

  * k-word shingles of normalize_text output -> hashed JVM-side with xxhash64
    (built-in, codegen'd; the shingle *set* is also what exact-Jaccard
    verification uses, so candidate generation and verification share one
    representation)
  * MinHash signature (num_hashes lanes) -> computed in ONE Arrow pandas UDF,
    fully vectorized with numpy (splitmix64 re-mix per lane + min.reduceat) —
    no per-row Python
  * SimHash 64-bit fingerprint -> same UDF, bit-vote over shingle hashes

Determinism: lane seeds derive from DedupeConfig.seed via splitmix64; same
config -> identical signatures on any cluster size.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fuzzy_dedupe_pipeline_spark.config import DedupeConfig
from fuzzy_dedupe_pipeline_spark.normalize import tokens_col, tokens_raw_col

_U64 = np.uint64
_GOLDEN = _U64(0x9E3779B97F4A7C15)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """SplitMix64 finalizer — a high-quality 64-bit mixer; with distinct seeds
    it yields effectively independent hash lanes for MinHash."""
    z = x + _GOLDEN
    z = (z ^ (z >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> _U64(27))) * _U64(0x94D049BB133111EB)
    return z ^ (z >> _U64(31))


def lane_seeds(num_hashes: int, seed: int) -> np.ndarray:
    base = _splitmix64(np.arange(1, num_hashes + 1, dtype=_U64) * _U64(seed * 2 + 1))
    return base.astype(_U64)


def token_hashes_col(tokens: Column) -> Column:
    """xxhash64 per token — the ONLY lambda here binds the element variable,
    so the tokens array is evaluated exactly once per row.

    (Earlier design computed shingles JVM-side as
    `transform(sequence(...), i -> xxhash64(slice(tokens, i+1, k)))`; any
    non-lambda-bound expression inside a higher-order-function lambda is
    re-evaluated PER ELEMENT, so the tokenize/normalize chain ran O(n) times
    per row — O(n^2) regex work. Shingle assembly now happens in the Arrow UDF
    from these per-token hashes.)
    """
    return F.transform(tokens, lambda t: F.xxhash64(t))


# --- rolling k-gram hashes (vectorized) --------------------------------------

_RC = _U64(0x5DEECE66DB)  # odd multiplier -> invertible mod 2^64
_RC_INV = _U64(pow(0x5DEECE66DB, -1, 1 << 64))


def gram_hashes_flat(flat: np.ndarray, starts: np.ndarray, widths: np.ndarray) -> np.ndarray:
    """Polynomial hash of each token window (start, width) over the flat
    uint64 token-hash vector, all windows at once.

      g = splitmix64( (T[s+w] - T[s]) * C^(s+w-1) ),
      T = prefix-cumsum of h[j] * C^-j   (wraparound uint64; C odd => C^-1 exists)

    Equivalent to sum_{j} h[s+j] * C^(w-1-j) — order-sensitive, so distinct
    token sequences get distinct hashes (mod 2^-64 collisions).
    """
    total = flat.size
    with np.errstate(over="ignore"):
        cinv_pow = np.cumprod(np.full(total, _RC_INV, dtype=_U64)) * _RC  # C^-j
        t = np.zeros(total + 1, dtype=_U64)
        np.cumsum(flat * cinv_pow, out=t[1:])
        c_pow = np.cumprod(np.full(total, _RC, dtype=_U64)) * _RC_INV  # C^i
        ends = starts + widths
        return _splitmix64((t[ends] - t[starts]) * c_pow[ends - 1])


def batch_shingle_sets(token_hash_rows: list[np.ndarray], k: int) -> list[np.ndarray]:
    """Per-row DISTINCT k-gram shingle hashes for a whole Arrow batch.

    The rolling-hash math runs once over the flattened batch (gram windows
    never cross row boundaries because each row's windows are generated from
    its own offsets); only the per-row np.unique runs row-at-a-time.
    Rows with 0 < n < k get one whole-row shingle (mirrors oracle.shingle_set).
    """
    n_rows = len(token_hash_rows)
    lens = np.fromiter((len(r) for r in token_hash_rows), dtype=np.int64, count=n_rows)
    total = int(lens.sum())
    if total == 0:
        return [np.empty(0, dtype=np.int64)] * n_rows
    flat = np.concatenate(
        [np.asarray(r, dtype=np.int64) for r in token_hash_rows]
    ).view(_U64)
    offsets = np.zeros(n_rows, dtype=np.int64)
    np.cumsum(lens[:-1], out=offsets[1:])

    counts = np.where(lens == 0, 0, np.maximum(lens - k + 1, 1))
    widths_per_row = np.minimum(lens, k)
    n_windows = int(counts.sum())
    # window starts: offsets repeated + intra-row arange
    row_of_window = np.repeat(np.arange(n_rows), counts)
    excl = np.zeros(n_rows, dtype=np.int64)
    np.cumsum(counts[:-1], out=excl[1:])
    intra = np.arange(n_windows, dtype=np.int64) - np.repeat(excl, counts)
    starts = offsets[row_of_window] + intra
    widths = widths_per_row[row_of_window]
    grams = gram_hashes_flat(flat, starts, widths).view(np.int64)

    out: list[np.ndarray] = []
    pos = 0
    for c in counts:
        out.append(np.unique(grams[pos : pos + c]) if c else np.empty(0, dtype=np.int64))
        pos += c
    return out


# --- batch signatures (vectorized) ---------------------------------------------

# Rows are processed in chunks of at most this many shingles (256 KB) so a
# lane's or a bit's temporaries stay L2-CACHE-RESIDENT. The naive form (each of
# 128 lanes remixes the WHOLE batch's flat shingle vector) allocates ~6
# full-batch temporaries per lane — at a 4096-doc batch that is gigabytes of
# DRAM traffic per batch, and the signature stage becomes memory-bandwidth-
# bound: measured per-TASK time barely dropped when the corpus split across 4x
# more tasks (43.6s med @ 8 tasks -> 34.5s med @ 32 tasks on 1/4 the rows),
# because 32 concurrent tasks saturate one memory controller. Chunked, the
# loops re-read cache-hot data, DRAM sees ~one pass over the batch, and the
# stage scales with cores again.
_CHUNK = 1 << 15
_EMPTY_LANE = np.iinfo(np.int64).max  # every lane of an empty set's MinHash
LONGS = T.ArrayType(T.LongType())


def _cache_chunks(shingle_rows: list[np.ndarray]):
    """Yield (rows, flat, starts, lens) per cache-sized chunk of a batch's
    NON-EMPTY rows: their batch indices, the chunk's flat uint64 shingle
    hashes, each row's start offset into that slice, and each row's length."""
    n_rows = len(shingle_rows)
    lens = row_lengths(shingle_rows).astype(np.int64)
    if not lens.any():
        return
    flat = np.concatenate(shingle_rows).view(_U64)
    cum = np.cumsum(lens)
    r0 = 0
    while r0 < n_rows:
        base = cum[r0 - 1] if r0 else 0
        r1 = int(np.searchsorted(cum, base + _CHUNK, side="left")) + 1
        r1 = min(max(r1, r0 + 1), n_rows)
        lens_c = lens[r0:r1]
        ne = lens_c > 0
        if ne.any():
            starts = (cum[r0:r1] - lens_c - base)[ne]
            yield np.arange(r0, r1)[ne], flat[base : cum[r1 - 1]], starts, lens_c[ne]
        r0 = r1


def batch_minhash(shingle_rows: list[np.ndarray], seeds: np.ndarray) -> np.ndarray:
    """(rows, lanes) int64 MinHash signatures: each lane is one splitmix64
    re-mix of the shingle hashes + np.minimum.reduceat over row offsets.
    Rows with no shingles get every lane MAX."""
    sigs = np.full((len(shingle_rows), seeds.size), _EMPTY_LANE, dtype=np.int64)
    with np.errstate(over="ignore"):
        for rows, flat, starts, _ in _cache_chunks(shingle_rows):
            lane_min = np.empty((rows.size, seeds.size), dtype=_U64)
            for j, s in enumerate(seeds):
                lane_min[:, j] = np.minimum.reduceat(_splitmix64(flat ^ s), starts)
            sigs[rows] = lane_min.view(np.int64)
    return sigs


def batch_simhash(shingle_rows: list[np.ndarray]) -> np.ndarray:
    """int64 SimHash per row: per-bit majority vote over the shingle hashes
    via np.add.reduceat. Rows with no shingles get 0."""
    packed = np.zeros(len(shingle_rows), dtype=_U64)
    for rows, flat, starts, lens in _cache_chunks(shingle_rows):
        n = lens.view(_U64)
        vote = np.zeros(rows.size, dtype=_U64)
        for b in range(64):
            ones = np.add.reduceat((flat >> _U64(b)) & _U64(1), starts)
            vote |= (ones * _U64(2) > n).astype(_U64) << _U64(b)
        packed[rows] = vote
    return packed.view(np.int64)


def row_lengths(rows: list) -> np.ndarray:
    return np.fromiter((len(r) for r in rows), dtype=np.int32, count=len(rows))


def sig_struct(**fields: T.DataType) -> T.StructType:
    """Non-null struct return type of a signature UDF."""
    return T.StructType([T.StructField(n, t, False) for n, t in fields.items()])


# --- signature UDFs ------------------------------------------------------------
#
# Each UDF maps a token-hash array to the struct its consumers read, and
# computes only that: shingle construction is one rolling-hash pass over the
# flattened Arrow batch (batch_shingle_sets), and batch_minhash /
# batch_simhash are the only lane loop and bit vote. The only per-row Python
# is np.unique + output assembly.


def make_signature_udf(cfg: DedupeConfig):
    """Arrow UDF: token-hash array -> (n_tokens, shingles, minhash, simhash)."""
    seeds = lane_seeds(cfg.num_hashes, cfg.seed)
    k = cfg.shingle_k

    @F.pandas_udf(
        sig_struct(
            n_tokens=T.IntegerType(), shingles=LONGS, minhash=LONGS, simhash=T.LongType()
        )
    )
    def signature(token_hashes: pd.Series) -> pd.DataFrame:
        rows = list(token_hashes)
        shingle_rows = batch_shingle_sets(rows, k)
        # n_tokens computed here, NOT as a separate F.size(tokens) projection —
        # that would duplicate the whole normalize/tokenize chain in the plan
        return pd.DataFrame(
            {
                "n_tokens": row_lengths(rows),
                "shingles": shingle_rows,
                "minhash": list(batch_minhash(shingle_rows, seeds)),
                "simhash": batch_simhash(shingle_rows),
            }
        )

    return signature


def make_simhash_udf(cfg: DedupeConfig):
    """Arrow UDF: token-hash array -> (n_shingles, simhash).

    For callers that need only the fingerprint (simhash_near_dup_pairs bands
    on it and re-reads nothing else): the lane loop is skipped and 12
    bytes/row cross the Arrow boundary."""
    k = cfg.shingle_k

    @F.pandas_udf(sig_struct(n_shingles=T.IntegerType(), simhash=T.LongType()))
    def simhash_sig(token_hashes: pd.Series) -> pd.DataFrame:
        shingle_rows = batch_shingle_sets(list(token_hashes), k)
        return pd.DataFrame(
            {"n_shingles": row_lengths(shingle_rows), "simhash": batch_simhash(shingle_rows)}
        )

    return simhash_sig


def make_verify_udf(cfg: DedupeConfig):
    """Arrow UDF: token-hash array -> (shingles, simhash) — exactly what
    verify scoring reads (Jaccard/containment and the secondary signal); the
    128 MinHash lanes, the dominant compute, are never computed."""
    k = cfg.shingle_k

    @F.pandas_udf(sig_struct(shingles=LONGS, simhash=T.LongType()))
    def verify_sig(token_hashes: pd.Series) -> pd.DataFrame:
        shingle_rows = batch_shingle_sets(list(token_hashes), k)
        return pd.DataFrame(
            {"shingles": shingle_rows, "simhash": batch_simhash(shingle_rows)}
        )

    return verify_sig


def with_sig_udf(
    pages: DataFrame,
    sig_udf,
    id_col: str = "url",
    text_col: str = "text_norm",
    pre_normalized: bool = True,
) -> DataFrame:
    """id + every field of sig_udf's struct, computed over text_col's token
    hashes. pre_normalized: text_col already went through normalize_text_col
    (normalization is idempotent, so skipping it only removes two regex
    passes per doc); pass False for raw text."""
    toks = tokens_raw_col(F.col(text_col)) if pre_normalized else tokens_col(
        F.col(text_col)
    )
    return (
        pages.select(
            F.col(id_col).alias("id"),
            token_hashes_col(toks).alias("token_hashes"),
        )
        .withColumn("sig", sig_udf(F.col("token_hashes")))
        .select(
            "id", *[F.col(f"sig.{f}").alias(f) for f in sig_udf.returnType.names]
        )
    )


def with_verify_sigs(
    pages: DataFrame,
    cfg: DedupeConfig,
    id_col: str = "url",
    text_col: str = "text_norm",
) -> DataFrame:
    """id, shingles, simhash — exactly the columns verify scoring consumes
    (see make_verify_udf). Input text must be pre-normalized."""
    return with_sig_udf(pages, make_verify_udf(cfg), id_col, text_col)


def with_simhash(
    pages: DataFrame,
    cfg: DedupeConfig,
    id_col: str = "url",
    text_col: str = "text_norm",
    pre_normalized: bool = True,
) -> DataFrame:
    """id, n_shingles, simhash — the narrow twin of with_signatures for
    consumers that never touch minhash/shingles (see make_simhash_udf)."""
    return with_sig_udf(pages, make_simhash_udf(cfg), id_col, text_col, pre_normalized)


def with_signatures(
    pages: DataFrame,
    cfg: DedupeConfig,
    id_col: str = "url",
    text_col: str = "text_norm",
    pre_normalized: bool = True,
) -> DataFrame:
    """id, n_tokens, shingles, minhash, simhash for every page.

    Docs with zero shingles are kept here (callers filter before banding so
    empty docs can't flood LSH buckets).
    """
    return with_sig_udf(
        pages, make_signature_udf(cfg), id_col, text_col, pre_normalized
    )


def band_hashes_col(minhash: Column, cfg: DedupeConfig) -> Column:
    """array of lsh_bands hashes: band i = xxhash64(i, sig[i*r : i*r+r]).
    JVM-side; feeds posexplode in the LSH stage."""
    r = cfg.lsh_rows
    return F.transform(
        F.sequence(F.lit(0), F.lit(cfg.lsh_bands - 1)),
        lambda i: F.xxhash64(i, F.slice(minhash, i * r + 1, r)),
    )


def simhash_similarity_col(s1: Column, s2: Column) -> Column:
    """1 - hamming/64 over the SimHash fingerprints — the secondary signal
    standing in for the reference's address-embedding cosine
    (dedupe_logic/processor.py:153)."""
    return 1.0 - F.bit_count(s1.bitwiseXOR(s2)) / F.lit(64.0)
