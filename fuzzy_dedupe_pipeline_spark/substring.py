"""Winnowed rolling-hash substring fingerprints (suffix-array substitute).

North rule: detect exact long-substring duplicates. A distributed suffix
array over 10^12 docs is not Spark-shaped; the standard scalable equivalent is
document fingerprinting by winnowing (Schleimer, Wilkerson, Aiken — "Winnowing:
Local Algorithms for Document Fingerprinting", SIGMOD'03): hash every
`gram`-token window with a rolling polynomial hash, then keep only the minimum
hash in each window of `winnow_window` consecutive gram hashes. Guarantee: any
shared token run of length >= gram + winnow_window - 1 (default 35+16-1 = 50)
yields at least one shared fingerprint — exactly the planted >=50-token-run
family. Fingerprints are then buckets, enumerated like LSH bands.

The rolling hash runs ONCE over the flattened Arrow batch (the same
invertible-multiplier prefix trick as minhash.gram_hashes_flat — the window
hash sum_j h[s+j] * C^(w-1-j) is translation-invariant, so global-position
powers give identical values to per-row powers; windows never cross row
boundaries because starts are generated per row). Only the q-window sliding
min + np.unique run per row, over the precomputed gram slice.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fuzzy_dedupe_pipeline_spark.config import DedupeConfig
from fuzzy_dedupe_pipeline_spark.lsh import bucket_pairs
from fuzzy_dedupe_pipeline_spark.minhash import _U64, gram_hashes_flat


def batch_winnow(token_hash_rows: list, w: int, q: int) -> list[np.ndarray]:
    """Winnowed fingerprints per row for a whole Arrow batch: one flattened
    rolling-hash pass (all rows' gram windows at once), then the per-row
    sliding-window min + unique over each row's precomputed gram slice."""
    n_rows = len(token_hash_rows)
    empty = np.empty(0, dtype=np.int64)
    lens = np.fromiter((len(r) for r in token_hash_rows), dtype=np.int64, count=n_rows)
    counts = np.maximum(lens - w + 1, 0)  # rows shorter than one gram emit none
    n_windows = int(counts.sum())
    if n_windows == 0:
        return [empty] * n_rows
    flat = np.concatenate(
        [np.asarray(r, dtype=np.int64) for r in token_hash_rows]
    ).view(_U64)
    offsets = np.zeros(n_rows, dtype=np.int64)
    np.cumsum(lens[:-1], out=offsets[1:])
    row_of_window = np.repeat(np.arange(n_rows), counts)
    excl = np.zeros(n_rows, dtype=np.int64)
    np.cumsum(counts[:-1], out=excl[1:])
    intra = np.arange(n_windows, dtype=np.int64) - np.repeat(excl, counts)
    starts = offsets[row_of_window] + intra
    widths = np.full(n_windows, w, dtype=np.int64)
    grams = gram_hashes_flat(flat, starts, widths)

    out: list[np.ndarray] = []
    pos = 0
    for c in counts:
        if c == 0:
            out.append(empty)
            continue
        g = grams[pos : pos + c]
        pos += c
        if c <= q:
            out.append(np.array([g.min()], dtype=_U64).view(np.int64))
        else:
            windows = np.lib.stride_tricks.sliding_window_view(g, q)
            out.append(np.unique(windows.min(axis=1)).view(np.int64))
    return out


def make_winnow_udf(cfg: DedupeConfig):
    w = cfg.substring_gram
    q = cfg.winnow_window

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def winnow(token_hashes: pd.Series) -> pd.Series:
        return pd.Series(batch_winnow(list(token_hashes), w, q))

    return winnow


def substring_candidates(
    pages: DataFrame,
    cfg: DedupeConfig,
    id_col: str = "id",
    tokens_col_name: str = "tokens",
    persists: list | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Candidate pairs sharing >=1 winnowed fingerprint.

    Input needs (id, tokens array<string>). Same count-first bucket
    enumeration and hot-bucket cap as the LSH stage (lsh.bucket_pairs), one
    bucket per fingerprint. Returns (pairs(id1, id2), dropped(fp,
    bucket_size)). batch_winnow emits each row's fingerprints once, so a
    bucket holds each id once. persists: caller-owned registry of persisted
    frames (see lsh.candidate_pairs).
    """
    winnow_udf = make_winnow_udf(cfg)
    fps = (
        pages.select(
            F.col(id_col).alias("id"),
            F.transform(F.col(tokens_col_name), lambda t: F.xxhash64(t)).alias("th"),
        )
        .withColumn("fp", F.explode(winnow_udf(F.col("th"))))
        .select("id", "fp")
        # pairs and the dropped log both read fps; without persist the
        # tokenize+winnow UDF chain re-executes per branch
        .persist()
    )
    if persists is not None:
        persists.append(fps)
    pairs, dropped = bucket_pairs(fps, ["fp"], cfg.max_band_bucket)
    return pairs.select("id1", "id2").dropDuplicates(["id1", "id2"]), dropped


# -- exact longest-common-run verification ----------------------------------
#
# The fingerprint equi-join answers "which pairs PROBABLY share a long run";
# this answers "exactly how long is the longest shared token run" for those
# candidate pairs — the suffix-array question asked per pair, where it is
# O((n+m) log n) instead of a corpus-wide index build. The shared-run length
# predicate is monotone (a run of L+1 contains a run of L), so binary search
# over L needs only log(min(n,m)) passes, each one flattened rolling-hash
# sweep (gram_hashes_flat, the same math as winnowing). Hash hits are
# confirmed ELEMENTWISE before a run is declared, so the reported length is
# exact, not probabilistic.


def _window_hashes(h: np.ndarray, width: int) -> np.ndarray:
    starts = np.arange(h.size - width + 1, dtype=np.int64)
    return gram_hashes_flat(
        h, starts, np.full(starts.size, width, dtype=np.int64)
    )


def _has_common_run(a: np.ndarray, b: np.ndarray, width: int) -> bool:
    wa = _window_hashes(a, width)
    wb = _window_hashes(b, width)
    common = np.intersect1d(wa, wb)
    if common.size == 0:
        return False
    # verify every hash hit elementwise (collisions are ~2^-64 per pair but
    # "exact" must mean exact); first true run returns immediately, so the
    # common case is one slice comparison
    order_b = np.argsort(wb, kind="stable")
    wb_sorted = wb[order_b]
    for pa in np.flatnonzero(np.isin(wa, common)):
        lo = int(np.searchsorted(wb_sorted, wa[pa]))
        hi = int(np.searchsorted(wb_sorted, wa[pa], side="right"))
        for pb in order_b[lo:hi]:
            if np.array_equal(a[pa : pa + width], b[pb : pb + width]):
                return True
    return False


def lcs_token_run(a: np.ndarray, b: np.ndarray) -> int:
    """Exact longest common contiguous token run between two uint64
    token-hash arrays (0 when either is empty or nothing is shared)."""
    lo, hi = 0, int(min(a.size, b.size))
    while lo < hi:
        mid = (lo + hi + 1) // 2
        if _has_common_run(a, b, mid):
            lo = mid
        else:
            hi = mid - 1
    return lo


def exact_lcs_pairs(
    pages: DataFrame,
    pairs: DataFrame,
    id_col: str = "id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """(id1, id2, lcs_tokens): exact longest shared token run per candidate
    pair. pages needs (id_col, tokens array<string>); pairs (id1, id2).

    Scale shape: two equi-joins attach each side's token-hash array to the
    pair (the pair set is the bounded output of the fingerprint equi-join,
    orders of magnitude smaller than the corpus), then the search runs
    per-pair inside an Arrow batch — embarrassingly parallel, no further
    shuffle, O((n+m) log n) per pair vs O(n*m) dynamic programming."""
    th = pages.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(tokens_col), lambda t: F.xxhash64(t)).alias("th"),
    )

    @F.pandas_udf("long")
    def lcs_udf(th1: pd.Series, th2: pd.Series) -> pd.Series:
        return pd.Series(
            [
                lcs_token_run(
                    np.asarray(x, dtype=np.int64).view(_U64),
                    np.asarray(y, dtype=np.int64).view(_U64),
                )
                for x, y in zip(th1, th2)
            ],
            dtype="int64",
        )

    return (
        pairs.join(
            th.select(F.col("id").alias("id1"), F.col("th").alias("th1")), "id1"
        )
        .join(
            th.select(F.col("id").alias("id2"), F.col("th").alias("th2")), "id2"
        )
        .select("id1", "id2", lcs_udf("th1", "th2").alias("lcs_tokens"))
    )


# -- duplicate-span REMOVAL ---------------------------------------------------
#
# Detection (above) answers "these pairs share a long verbatim run"; this
# removes the duplicated tokens from one side — the transform of Lee et al.,
# "Deduplicating Training Data Makes Language Models Better" (ACL'22), where
# every duplicated span above a length threshold is cut from all but one
# occurrence. Key property making the cut EXACT: a shared run of length
# L >= width covers exactly L - width + 1 matching width-token windows, and
# the union of their [p, p+width) index sets is exactly the run's token range
# — so removing the union of verified matching windows removes precisely the
# duplicated tokens (every shared run >= width, nothing else).


def shared_span_ranges(keep: np.ndarray, victim: np.ndarray, width: int) -> list:
    """Merged [start, end) token-index ranges in `victim` covered by some
    width-token window that also occurs verbatim in `keep`. Hash hits are
    confirmed elementwise (same discipline as _has_common_run), so ranges
    are exact, not probabilistic."""
    if int(keep.size) < width or int(victim.size) < width:
        return []
    wk = _window_hashes(keep, width)
    wv = _window_hashes(victim, width)
    order_k = np.argsort(wk, kind="stable")
    wk_sorted = wk[order_k]
    hits = []
    for pv in np.flatnonzero(np.isin(wv, wk_sorted)):
        lo = int(np.searchsorted(wk_sorted, wv[pv]))
        hi = int(np.searchsorted(wk_sorted, wv[pv], side="right"))
        for pk in order_k[lo:hi]:
            if np.array_equal(victim[pv : pv + width], keep[pk : pk + width]):
                hits.append(int(pv))
                break
    if not hits:
        return []
    merged = [[hits[0], hits[0] + width]]
    for p in hits[1:]:  # hits ascend: flatnonzero yields sorted positions
        if p <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], p + width)
        else:
            merged.append([p, p + width])
    return [(s, e) for s, e in merged]


def merge_ranges(ranges: list) -> list:
    """Merge possibly-overlapping [s, e) ranges (e.g. spans contributed by
    several keeper docs against the same victim)."""
    merged: list = []
    for s, e in sorted(ranges):
        if merged and s <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], e)
        else:
            merged.append([s, e])
    return [(s, e) for s, e in merged]


def remove_duplicate_spans(
    pages: DataFrame,
    pairs: DataFrame,
    cfg: DedupeConfig | None = None,
    id_col: str = "id",
    tokens_col: str = "tokens",
    min_run: int | None = None,
) -> DataFrame:
    """Cut every shared token run >= min_run from the VICTIM side of each
    candidate pair, keeping the first occurrence intact (pairs carry
    id1 < id2 from substring_candidates, so id1 — the lowest id — is the
    keeper: deterministic keep-first policy). Returns pages with tokens_col
    rewritten and an added n_removed_tokens column.

    min_run defaults to the winnow guarantee gram + window - 1 (reference
    constants: dedupe_logic/processor.py thresholds are score-based; the
    substring arm is the suffix-array analog, see module docstring), i.e.
    exactly the runs substring_candidates is guaranteed to surface.

    Single-pass semantics (as in Lee et al.): spans are located against the
    ORIGINAL corpus tokens, then all cuts apply at once — a doc that is both
    keeper (of a later doc) and victim (of an earlier one) contributes its
    original text as keeper and is still rewritten as victim.

    Scale shape: the pair set is the bounded output of the fingerprint
    equi-join (orders of magnitude smaller than the corpus). Two equi-joins
    attach token-hash arrays to pairs; span search runs per pair inside an
    Arrow batch; one groupBy shuffle keys per-victim ranges; the rewrite is
    a map-side JVM higher-order filter — no per-row Python on the corpus
    side, no shuffle of rewritten text."""
    cfg = cfg or DedupeConfig()
    width = int(min_run or (cfg.substring_gram + cfg.winnow_window - 1))
    rng_type = "array<struct<s: long, e: long>>"

    th = pages.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(tokens_col), lambda t: F.xxhash64(t)).alias("th"),
    )

    @F.pandas_udf(rng_type)
    def spans_udf(keep_th: pd.Series, vict_th: pd.Series) -> pd.Series:
        out = []
        for k, v in zip(keep_th, vict_th):
            r = shared_span_ranges(
                np.asarray(k, dtype=np.int64).view(_U64),
                np.asarray(v, dtype=np.int64).view(_U64),
                width,
            )
            out.append([{"s": s, "e": e} for s, e in r])
        return pd.Series(out)

    @F.pandas_udf(rng_type)
    def merge_udf(ranges: pd.Series) -> pd.Series:
        out = []
        for rs in ranges:
            merged = merge_ranges([(int(r["s"]), int(r["e"])) for r in rs])
            out.append([{"s": s, "e": e} for s, e in merged])
        return pd.Series(out)

    victim_ranges = (
        pairs.join(
            th.select(F.col("id").alias("id1"), F.col("th").alias("th_keep")),
            "id1",
        )
        .join(
            th.select(F.col("id").alias("id2"), F.col("th").alias("th_vict")),
            "id2",
        )
        .select(F.col("id2").alias("_rid"), spans_udf("th_keep", "th_vict").alias("r"))
        .select("_rid", F.explode("r").alias("r"))
        .groupBy("_rid")
        .agg(merge_udf(F.collect_list("r")).alias("_ranges"))
    )

    toks = F.col(tokens_col)
    cut = F.filter(
        toks,
        lambda t, i: ~F.exists(
            F.col("_ranges"), lambda r: (i >= r["s"]) & (i < r["e"])
        ),
    )
    new_tokens = F.when(F.col("_ranges").isNull(), toks).otherwise(cut)
    return (
        pages.join(
            victim_ranges, pages[id_col] == victim_ranges["_rid"], "left"
        )
        .withColumn(
            "n_removed_tokens",
            (F.size(toks) - F.size(new_tokens)).cast("long"),
        )
        .withColumn(tokens_col, new_tokens)
        .drop("_rid", "_ranges")
    )
