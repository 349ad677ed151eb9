"""In-session composition of the dedup dataflow (no disk checkpoints).

Same stages as pipeline.DedupePipeline but materializing intermediates to
session memory (persist/localCheckpoint) instead of parquet — the shape used
by __spark_entry__ queries and bench.py. DedupePipeline remains the
production path (resumable, metrics); this is the ad-hoc/query path.

The two compositions are not the same graph. This path fuses the LSH and
substring candidate stages into one chain (candidate_table) and scores its
table directly (verify.score_candidates), while pipeline.py still runs
candidate_pairs, substring_candidates and verify_pairs as separate durable
stages. tests/test_dataflow.py checks that both give the same verified
edges; declaring the stages once for both paths is still open.

Note dedupe_clusters/dedupe_edges run eager jobs when CALLED (cache builds
are ordered deliberately — see dedupe_edges); the returned DataFrame's
remaining plan is cheap assembly over checkpointed edges.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fuzzy_dedupe_pipeline_spark.canonical import cluster_output
from fuzzy_dedupe_pipeline_spark.cc import attach_singletons, connected_components
from fuzzy_dedupe_pipeline_spark.config import DEFAULT_CONFIG, DedupeConfig
from fuzzy_dedupe_pipeline_spark.lsh import bucket_pairs
from fuzzy_dedupe_pipeline_spark.minhash import (
    LONGS,
    band_hashes_col,
    batch_minhash,
    batch_shingle_sets,
    lane_seeds,
    row_lengths,
    sig_struct,
    simhash_similarity_col,
    with_sig_udf,
    with_simhash,
    with_verify_sigs,
)
from fuzzy_dedupe_pipeline_spark.normalize import normalize_text_col
from fuzzy_dedupe_pipeline_spark.substring import batch_winnow
from fuzzy_dedupe_pipeline_spark.verify import score_candidates

# element type of candidate_table's tagged bucket keys
BUCKET_KEYS = "array<struct<band_id:int,band_hash:bigint>>"


def clean_docs(
    docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(id, text_final, text_norm) from any (id, text) table."""
    return docs.select(
        F.col(id_col).cast("string").alias("id"),
        F.col(text_col).alias("text_final"),
        normalize_text_col(F.col(text_col)).alias("text_norm"),
    )


def with_exact_rep(clean: DataFrame) -> DataFrame:
    """clean + (tkey, rep): rep = min id among identical normalized text.

    ONE shuffle (window min over the sha256 key) yields both the exact-dup
    star edges (rows where id != rep) and the representative set (id == rep).
    The previous groupBy+join+anti-join shape cost three narrow shuffles and,
    at web scale, the rep side is ~corpus-sized so none of them broadcast.
    """
    w = Window.partitionBy("tkey")
    return clean.withColumn(
        "tkey", F.sha2(F.col("text_norm"), 256)
    ).withColumn("rep", F.min("id").over(w))


def exact_edges_df(clean: DataFrame) -> DataFrame:
    """Star edges rep->member over identical normalized text (exact dedup)."""
    return (
        with_exact_rep(clean)
        .filter(F.col("id") != F.col("rep"))
        .select(
            F.col("rep").alias("id1"),
            F.col("id").alias("id2"),
            F.lit(1.0).alias("confidence"),
            F.lit("exact").alias("match_type"),
        )
    )


def make_candidate_udf(cfg: DedupeConfig, with_fps: bool = True):
    """Arrow UDF: token-hash array -> (n_tokens, minhash, fps) — everything
    candidate generation reads, from ONE pass over the rows: the LSH
    signature (minhash.batch_minhash over the shingle sets) and the winnowed
    substring fingerprints (substring.batch_winnow over the same token
    hashes; empty when with_fps is False). No shingles or simhash cross back:
    verification recomputes those over the candidate endpoints only."""
    seeds = lane_seeds(cfg.num_hashes, cfg.seed)
    k, w, q = cfg.shingle_k, cfg.substring_gram, cfg.winnow_window
    no_fps = np.empty(0, dtype=np.int64)

    @F.pandas_udf(sig_struct(n_tokens=T.IntegerType(), minhash=LONGS, fps=LONGS))
    def candidate_sig(token_hashes: pd.Series) -> pd.DataFrame:
        rows = list(token_hashes)
        return pd.DataFrame(
            {
                "n_tokens": row_lengths(rows),
                "minhash": list(batch_minhash(batch_shingle_sets(rows, k), seeds)),
                "fps": batch_winnow(rows, w, q) if with_fps else [no_fps] * len(rows),
            }
        )

    return candidate_sig


def candidate_table(
    reps: DataFrame, cfg: DedupeConfig, with_substring: bool = True
) -> DataFrame:
    """(id1, id2, substring_match) over reps (id, text_norm): the pairs of
    lsh.candidate_pairs and substring.substring_candidates, one row per pair,
    substring_match true iff the pair shares a fingerprint — the table
    verify_pairs builds with a full outer join of the two pair sets.

    One chain instead of two: one Arrow UDF (make_candidate_udf), then one
    explode to tagged bucket keys — (band_id, band_hash) for the bands of
    docs with tokens (band_table's rows), (-1, fp) for each fingerprint — and
    one count-first bucket enumeration (lsh.bucket_pairs) under the shared
    cap. Band and fingerprint buckets never share a key, so each is capped
    exactly as its own stage caps it."""
    sigs = with_sig_udf(
        reps, make_candidate_udf(cfg, with_substring), "id", "text_norm"
    )
    bands = F.transform(
        band_hashes_col(F.col("minhash"), cfg),
        lambda h, i: F.struct(i.alias("band_id"), h.alias("band_hash")),
    )
    fps = F.transform(
        "fps", lambda fp: F.struct(F.lit(-1).alias("band_id"), fp.alias("band_hash"))
    )
    keys = F.concat(
        F.when(F.col("n_tokens") > 0, bands).otherwise(F.array().cast(BUCKET_KEYS)),
        fps,
    )
    rows = sigs.select("id", F.explode(keys).alias("k")).select(
        "id", "k.band_id", "k.band_hash"
    )
    pairs, _ = bucket_pairs(rows, ["band_id", "band_hash"], cfg.max_band_bucket)
    return pairs.groupBy("id1", "id2").agg(
        F.bool_or(F.col("band_id") == -1).alias("substring_match")
    )


def dedupe_edges(
    clean_reps: DataFrame,
    cfg: DedupeConfig,
    with_substring: bool = True,
    persists: list | None = None,
) -> DataFrame:
    """Verified near-dup edges among exact-representatives.

    Cache discipline: the corpus-wide pass (candidate_table) keeps nothing —
    its UDF output is exploded straight into bucket keys, and only the
    narrow (id1, id2, substring_match) candidate table is persisted, because
    it feeds both the endpoint slice and the scoring join. Shingle sets are
    computed by a second UDF pass over just the candidate endpoints — a
    small fraction of the corpus after exact-dedup + banding, and exactly
    the slice the verify joins ship anyway (at 10^12 docs, the difference
    between materializing a corpus-sized array column and touching it only
    where candidates exist). That slice is persisted and counted before
    scoring, which reads it twice (a/b sides): counted first, the scoring
    join's stages read a populated cache instead of racing to build it
    (each racing stage would rerun the UDF).

    persists: caller-owned registry of persisted frames; the caller unpersists
    them once the result is materialized (see dedupe_clusters)."""
    reps = clean_reps.select("id", "text_norm")
    cand = candidate_table(reps, cfg, with_substring).persist()
    end_ids = (
        cand.select(F.col("id1").alias("id"))
        .union(cand.select(F.col("id2").alias("id")))
        .distinct()
    )
    sigs_verify = with_verify_sigs(
        reps.join(end_ids, "id", "left_semi"), cfg, "id", "text_norm"
    ).persist()
    if persists is not None:
        persists.extend([cand, sigs_verify])
    sigs_verify.count()
    return score_candidates(cand, sigs_verify, cfg)


def dedupe_clusters(
    spark: SparkSession,
    docs: DataFrame,
    cfg: DedupeConfig = DEFAULT_CONFIG,
    id_col: str = "url",
    text_col: str = "text",
    with_substring: bool = True,
    rebalance_input: bool = True,
) -> DataFrame:
    """Full flagship flow on any (id, text) table ->
    clusters(url, cluster_id, confidence_score, duplicate_count,
    is_representative).

    rebalance_input round-robin-repartitions the corpus to the session's
    default parallelism before the signature stages. Source layout is not to
    be trusted: a single unsplittable parquet row group puts EVERY row in one
    partition and serializes both Arrow-UDF passes onto one core (file
    splits exist but only the one containing the row-group start gets rows).
    One cheap shuffle of the text buys guaranteed balance; disable it only
    when the input is known well-partitioned (e.g. a bucketed Iceberg table).
    """
    persists: list[DataFrame] = []
    # Shuffle-payload discipline (measured: the signature cache build was the
    # top stage, and its cost was moving corpus text, not computing on it):
    #   * rebalance the RAW text (one corpus-text copy through the wire),
    #     then normalize AFTER the shuffle so the regex chain runs on the
    #     balanced layout and the un-normalized copy never shuffles again;
    #   * original text is only ever consumed as its LENGTH (representative
    #     ordering) — carry text_len, never cache or window-shuffle two full
    #     text copies. The tkey window then moves (text_norm, text_len), not
    #     (text_final, text_norm): roughly half the bytes per crossing.
    raw = docs.select(
        F.col(id_col).cast("string").alias("id"),
        F.col(text_col).alias("text_final"),
    )
    if rebalance_input:
        raw = raw.repartition(spark.sparkContext.defaultParallelism)
    clean = raw.select(
        "id",
        F.length("text_final").alias("text_len"),
        normalize_text_col(F.col("text_final")).alias("text_norm"),
    )
    # one window shuffle yields exact edges AND the rep set (see with_exact_rep)
    keyed = with_exact_rep(clean).drop("tkey").persist()
    persists.append(keyed)
    exact = keyed.filter(F.col("id") != F.col("rep")).select(
        F.col("rep").alias("id1"),
        F.col("id").alias("id2"),
        F.lit(1.0).alias("confidence"),
        F.lit("exact").alias("match_type"),
    )
    reps = keyed.filter(F.col("id") == F.col("rep")).select("id", "text_norm")
    # materialize the shared keyed cache FIRST (the corpus-text window
    # shuffle), then overlap the three independent downstream
    # materializations: the heavy signature->LSH->verify chain and the two
    # cheap narrow checkpoints all read the populated keyed cache, so the
    # AQE unpopulated-cache race cannot bite and the small jobs hide inside
    # the big chain's wall time instead of queueing behind it.
    keyed.count()
    with ThreadPoolExecutor(3) as ex:
        f_near = ex.submit(
            lambda: dedupe_edges(
                reps, cfg, with_substring=with_substring, persists=persists
            ).localCheckpoint()
        )
        f_exact = ex.submit(exact.localCheckpoint)
        # narrow projection for singleton attach + representative ordering
        f_ids = ex.submit(keyed.select("id", "rep", "text_len").localCheckpoint)
        near = f_near.result()
        exact = f_exact.result()
        ids_text = f_ids.result()
    # CC runs over NEAR edges only — all near endpoints are exact-reps, and
    # the rep of an exact group is its min id, so min-over-reps == min over
    # the full component: exact members inherit their rep's label by one join
    # instead of inflating the CC edge set with O(corpus) star edges
    labels = connected_components(
        near.select("id1", "id2"),
        max_iters=cfg.cc_max_iters,
        checkpoint_dir=cfg.checkpoint_dir,
    )
    # release every cached intermediate: all consumers below read checkpoints
    for df in persists:
        df.unpersist()
    rep_labels = attach_singletons(
        ids_text.filter(F.col("id") == F.col("rep")).select("id"), labels
    )
    member_labels = (
        ids_text.filter(F.col("id") != F.col("rep"))
        .select("id", "rep")
        .join(
            rep_labels.select(F.col("id").alias("rep"), "cluster_id"), "rep"
        )
        .select("id", "cluster_id")
    )
    members = rep_labels.union(member_labels)
    all_edges = near.select("id1", "id2", "confidence").union(
        exact.select("id1", "id2", "confidence")
    )
    return cluster_output(members, all_edges, ids_text.select("id", "text_len"))


def simhash_near_dup_pairs(
    clean: DataFrame, cfg: DedupeConfig, max_hamming: int = 3
) -> DataFrame:
    """SimHash near-dup pairs: pigeonhole banding (hamming <= d => at least one
    of d+1 bit-chunks equal) -> equi-join candidates -> exact hamming filter.
    Returns (id1, id2, hamming, simhash_sim).

    Same hot-key guard as the LSH stage: a chunk value shared by m docs emits
    O(m^2) join rows, so (chunk_id, chunk_val) buckets larger than
    cfg.max_band_bucket are excluded from pair generation (pathological at
    web scale: boilerplate-dominated corpora collapse many docs onto one
    simhash). The default cap (5000) is far above any sandbox bucket, so
    oracle parity at sf0.01 is unaffected.

    Signature stage uses the simhash-only UDF (with_simhash): identical
    fingerprints, but the 128 MinHash lanes this query never reads are not
    computed and no shingle/minhash arrays cross the Arrow boundary.
    """
    sigs = with_simhash(
        clean.select(F.col("id").alias("url"), "text_norm"),
        cfg,
        id_col="url",
        text_col="text_norm",
    ).filter(F.col("n_shingles") > 0)
    n_chunks = max_hamming + 1
    width = 64 // n_chunks
    mask = (1 << width) - 1
    chunks = F.array(
        *[
            F.struct(
                F.lit(i).alias("chunk_id"),
                F.shiftright(F.col("simhash"), i * width)
                .bitwiseAND(F.lit(mask))
                .alias("chunk_val"),
            )
            for i in range(n_chunks)
        ]
    )
    banded = sigs.select(
        F.col("id"), F.col("simhash"), F.explode(chunks).alias("c")
    ).select("id", "simhash", "c.chunk_id", "c.chunk_val")
    # r6 second pass: bucket enumeration (same shape as lsh.candidate_pairs)
    # instead of bucket-size agg + broadcast anti-join + banded self-join.
    # The unpersisted signature UDF lineage used to be evaluated up to
    # THREE times (the hot-bucket aggregate and both join sides ran as
    # concurrent AQE stages, profiled as twin 1.2 s stages at 50k docs);
    # one groupBy computes it once, the size filter replaces the anti-join
    # (identical cap semantics), and sorted-struct enumeration emits exactly
    # the {id1 < id2} candidate set (ids are unique within a bucket — one
    # row per chunk per doc). The hamming filter stays BEFORE the distinct
    # (r6 first pass, guide §2.3): the O(bucket^2) candidate stream is
    # filtered by the cheap xor/bit_count predicate as it is generated, so
    # the distinct still shuffles only true near-dup pairs.
    buckets = (
        banded.groupBy("chunk_id", "chunk_val")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("id"), F.col("simhash")))
            ).alias("_members"),
            F.count("*").alias("bucket_size"),
        )
        .filter(
            (F.col("bucket_size") <= cfg.max_band_bucket)
            & (F.col("bucket_size") >= 2)
        )
    )
    # outer explodes dodge the InferFiltersFromGenerate pushdown trap; both
    # arrays are provably non-empty on these rows
    ex2 = buckets.select(
        "_members", F.posexplode_outer("_members").alias("_j", "_m2")
    ).filter(F.col("_j") >= 1)
    cand = (
        ex2.select(
            F.explode_outer(F.slice("_members", 1, F.col("_j"))).alias("_m1"),
            "_m2",
        )
        .select(
            F.col("_m1.id").alias("id1"),
            F.col("_m2.id").alias("id2"),
            F.col("_m1.simhash").alias("s1"),
            F.col("_m2.simhash").alias("s2"),
        )
        .filter(F.bit_count(F.col("s1").bitwiseXOR(F.col("s2"))) <= max_hamming)
    )
    return (
        cand.dropDuplicates(["id1", "id2"])
        .select(
            "id1",
            "id2",
            F.bit_count(F.col("s1").bitwiseXOR(F.col("s2"))).alias("hamming"),
            F.round(simhash_similarity_col(F.col("s1"), F.col("s2")), 6).alias(
                "simhash_sim"
            ),
        )
    )
