"""Pair verification + match-type cascade.

Replaces the reference's verification signals with the north-rule analogs:

  reference (dedupe_logic/processor.py:149-169)      this engine
  ------------------------------------------------   ---------------------------
  semantic cosine >= 0.8        (primary gate)       exact shingle Jaccard >= 0.8
  address cosine                (secondary score)    SimHash similarity (1 - hamming/64)
  phone equality                (exact signal)       shared winnowed substring fingerprint
  'hybrid'/'semantic+address'/'semantic' cascade     'hybrid'/'jaccard+simhash'/'jaccard'
  confidence = min(0.95, (sem+addr)/2) | sem         same formula, same 0.95 cap

One extra arm the reference cannot express: 'substring' pairs where a long
verbatim run is shared but global Jaccard < 0.8 (run-inside-bigger-doc); kept
when the shared-shingle COUNT certifies the run length
(>= cfg.substring_min_shared_shingles).

All arithmetic is built-in column expressions (array_intersect / bit_count).
Each pair's |A n B|, |A|, |B| come out of a one-element inline_outer. No
predicate is pushed below a Generate, so the pass filter is not inlined into
the join condition, where each use of the intersection ran again; the outer
form adds no InferFiltersFromGenerate filter below it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fuzzy_dedupe_pipeline_spark.config import DedupeConfig
from fuzzy_dedupe_pipeline_spark.minhash import simhash_similarity_col


def verify_pairs(
    candidates: DataFrame,
    substring_pairs: DataFrame,
    sigs: DataFrame,
    cfg: DedupeConfig,
    persists: list | None = None,
) -> DataFrame:
    """Verified edges: (id1, id2, jaccard, simhash_sim, containment,
    shared_shingles, substring_match, match_type, confidence).

    candidates / substring_pairs: (id1, id2) with id1 < id2, joined into one
    (id1, id2, substring_match) table and scored by score_candidates.
    sigs: (id, shingles, simhash).
    persists: caller-owned registry of persisted frames (see lsh.candidate_pairs).
    """
    cand = (
        candidates.join(
            substring_pairs.withColumn("substring_match", F.lit(True)),
            ["id1", "id2"],
            "full_outer",
        )
        .fillna({"substring_match": False})
    )
    if cfg.verify_prefilter:
        # two consumers (id prefilter + scoring join) only in prefilter mode;
        # without it a persist would be pure cache overhead
        cand = cand.persist()
        if persists is not None:
            persists.append(cand)

        # semi-join prefilter: only candidate endpoints' signatures enter the
        # scoring joins, keeping non-candidate docs' wide shingle arrays out
        # of BOTH join shuffles. The id-only semi-join shuffle is cheap, but
        # sigs' shuffle now waits on candidate generation, so
        # cfg.verify_prefilter can disable it where most docs are endpoints.
        cand_ids = (
            cand.select(F.col("id1").alias("id"))
            .union(cand.select(F.col("id2").alias("id")))
            .distinct()
        )
        sigs = sigs.join(cand_ids, "id", "left_semi")
    return score_candidates(cand, sigs, cfg)


def score_candidates(
    cand: DataFrame, sigs: DataFrame, cfg: DedupeConfig
) -> DataFrame:
    """Score and verify one candidate table: (id1, id2, substring_match)
    with id1 < id2, one row per pair, against sigs (id, shingles, simhash).
    Output as verify_pairs."""
    a = sigs.select(
        F.col("id").alias("id1"),
        F.col("shingles").alias("sh1"),
        F.col("simhash").alias("simhash1"),
    )
    b = sigs.select(
        F.col("id").alias("id2"),
        F.col("shingles").alias("sh2"),
        F.col("simhash").alias("simhash2"),
    )
    sizes = F.struct(
        F.size(F.array_intersect("sh1", "sh2")).alias("inter"),
        F.size("sh1").alias("n1"),
        F.size("sh2").alias("n2"),
    )
    j = cand.join(a, "id1").join(b, "id2").select("*", F.inline_outer(F.array(sizes)))

    inter, n1, n2 = F.col("inter"), F.col("n1"), F.col("n2")
    union = n1 + n2 - inter
    scored = j.select(
        "id1",
        "id2",
        "substring_match",
        inter.cast("long").alias("shared_shingles"),
        F.when(union > 0, inter / union).otherwise(F.lit(0.0)).alias("jaccard"),
        F.when(F.least(n1, n2) > 0, inter / F.least(n1, n2))
        .otherwise(F.lit(0.0))
        .alias("containment"),
        simhash_similarity_col(F.col("simhash1"), F.col("simhash2")).alias(
            "simhash_sim"
        ),
    )

    theta = F.lit(cfg.jaccard_threshold)
    # substring arm: a shared verbatim run of R tokens -> ~R-k+1 shared
    # shingles; the absolute count verifies run length regardless of how big
    # the host document is (a ratio gate would miss short-run-in-long-doc)
    passed = scored.filter(
        (F.col("jaccard") >= theta)
        | (
            F.col("substring_match")
            & (F.col("shared_shingles") >= cfg.substring_min_shared_shingles)
        )
    )

    # match-type decision tree — same shape/constants as processor.py:161-169
    jac, sim, cont = F.col("jaccard"), F.col("simhash_sim"), F.col("containment")
    capped = F.least(F.lit(cfg.confidence_cap), (jac + sim) / 2)
    return passed.select(
        "id1",
        "id2",
        "jaccard",
        "simhash_sim",
        "containment",
        "shared_shingles",
        "substring_match",
        F.when(
            (jac >= theta)
            & F.col("substring_match")
            & (sim >= cfg.hybrid_secondary_threshold),
            F.lit("hybrid"),
        )
        .when((jac >= theta) & (sim >= cfg.simhash_sim_threshold), F.lit("jaccard+simhash"))
        .when(jac >= theta, F.lit("jaccard"))
        .otherwise(F.lit("substring"))
        .alias("match_type"),
        F.when(
            (jac >= theta)
            & (
                (F.col("substring_match") & (sim >= cfg.hybrid_secondary_threshold))
                | (sim >= cfg.simhash_sim_threshold)
            ),
            capped,
        )
        .when(jac >= theta, jac)
        .otherwise(F.least(F.lit(cfg.confidence_cap), cont))
        .alias("confidence"),
    )
