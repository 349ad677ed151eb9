"""LSH banding -> candidate pairs, and the one bucket-pair primitive.

Replaces the reference's FAISS exact top-k self-join
(dedupe_logic/processor.py:120-138). Banding hash-partitions the band table
by (band_id, band_hash) once and enumerates pairs inside each bucket
(bucket_pairs, value-identical to the former band self-join with one
exchange instead of three). Unlike the reference's k=min(10,n) cap
(processor.py:137), recall is governed by the (bands x rows) S-curve:
P(candidate | J=0.8) = 1-(1-0.8^4)^32 > 1 - 6e-8.

bucket_pairs is every bucket-shaped candidate join in the library: LSH
bands (candidate_pairs), winnowed fingerprints
(substring.substring_candidates), both at once in the fused session front
end (dataflow.candidate_table), SimHash chunks
(dataflow.simhash_near_dup_pairs, with the simhash as payload) and word
n-grams (textstats.ngram_jaccard_pairs, with n_grams as payload).

Skew: boilerplate-heavy corpora produce hot buckets whose pair blowup is
O(m^2). Buckets larger than the caller's cap are counted, excluded from
pair generation before any array is built, and *logged* (returned as a
dropped-buckets DataFrame the pipeline writes to metrics) — the north
rule's explicit skew handling. Exact duplicates never reach the LSH stage
(the pipeline collapses them first), so oversized band buckets are
genuinely pathological keys, not normal data.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fuzzy_dedupe_pipeline_spark.config import DedupeConfig
from fuzzy_dedupe_pipeline_spark.minhash import band_hashes_col


def band_table(sigs: DataFrame, cfg: DedupeConfig) -> DataFrame:
    """(id, band_id, band_hash) — one row per band per doc. Docs with no
    shingles are excluded (their all-MAX signatures would all collide);
    n_tokens == 0 iff the shingle set is empty, and unlike the shingle
    array it is present in the narrow cached signature table."""
    return (
        sigs.filter(F.col("n_tokens") > 0)
        .select(
            "id",
            F.posexplode(band_hashes_col(F.col("minhash"), cfg)).alias(
                "band_id", "band_hash"
            ),
        )
    )


def bucket_pairs(
    rows: DataFrame, keys: list[str], cap: int, payload: Sequence[str] = ()
) -> tuple[DataFrame, DataFrame]:
    """Ordered pairs of ids sharing a bucket, over rows (id, *keys, *payload)
    with one row per (bucket, member).

    Returns (pairs(*keys, id1, id2, <col>1, <col>2 for each payload col),
    dropped(*keys, bucket_size)): pairs with id1 < id2 inside every bucket
    of 2..cap members, each side carrying its own payload values, NOT
    distinct across buckets (callers dedupe or aggregate per pair); dropped
    lists every bucket over the cap. Keys group as GROUP BY does: rows with
    a NULL key form one bucket.

    Count first: a window count over the bucket key tags every row with its
    bucket size, and rows of buckets over the cap are filtered out BEFORE the
    collect_list, so no hot bucket ever builds an array (the window buffers a
    group in Spark's spillable row buffer, not in one array value). The
    collect_list aggregate reuses the window's hash partitioning: the rows
    cross ONE exchange. Per-task state is O(cap) per array.

    Enumeration: members are (id, *payload) structs; for every j >= 1,
    m2 = members[j] pairs with each m1 in members[0..j-1]. With members
    ascending (array_sort orders structs by id first, the same binary
    comparison as `<`) this is {id1 < id2}; the filter only removes
    self-pairs of an id repeated in one bucket. slice keeps per-row state
    O(bucket), never a flattened O(bucket^2) array. Outer explodes: both
    arrays are provably non-empty, and the non-outer form would make
    InferFiltersFromGenerate push size()>0 predicates below the exchange.

    dropped is its own count aggregate over rows (never run unless read);
    cache rows if both outputs are read.
    """
    sized = rows.withColumn(
        "bucket_size", F.count("*").over(Window.partitionBy(*keys))
    )
    buckets = (
        sized.filter((F.col("bucket_size") <= cap) & (F.col("bucket_size") >= 2))
        .groupBy(*keys)
        .agg(F.array_sort(F.collect_list(F.struct("id", *payload))).alias("_ms"))
    )
    ex2 = buckets.select(
        *keys, "_ms", F.posexplode_outer("_ms").alias("_j", "_m2")
    ).filter(F.col("_j") >= 1)
    pairs = ex2.select(
        *keys, F.explode_outer(F.slice("_ms", 1, F.col("_j"))).alias("_m1"), "_m2"
    ).select(
        *keys,
        *[F.col(f"_m{s}.{c}").alias(f"{c}{s}") for c in ["id", *payload] for s in "12"],
    ).filter(F.col("id1") < F.col("id2"))
    dropped = (
        rows.groupBy(*keys)
        .agg(F.count("*").alias("bucket_size"))
        .filter(F.col("bucket_size") > cap)
    )
    return pairs, dropped


def candidate_pairs(
    sigs: DataFrame, cfg: DedupeConfig, persists: list | None = None
) -> tuple[DataFrame, DataFrame]:
    """LSH candidates: (id1, id2) with id1 < id2, distinct across bands.

    Returns (pairs, dropped_buckets) where dropped_buckets is
    (band_id, band_hash, bucket_size) for every bucket excluded by the skew
    cap — the caller persists it to the metrics/lineage table.

    persists: accepted for call-site symmetry with the other stages (caller-
    owned registry of persisted frames, unpersisted once results are
    materialized); this stage persists nothing.

    Shape: one exchange of the band table (count-first bucket enumeration,
    see bucket_pairs) plus the pair distinct, where the former band
    self-join moved the 32x-corpus band rows through three exchanges.
    """
    pairs, dropped = bucket_pairs(
        band_table(sigs, cfg), ["band_id", "band_hash"], cfg.max_band_bucket
    )
    # multi-band collisions (reference J2 set)
    return pairs.select("id1", "id2").dropDuplicates(["id1", "id2"]), dropped
