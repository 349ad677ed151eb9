"""The flagship session path, walked layer by layer for the traced run.

Calls the same public functions ``dataflow.dedupe_clusters`` composes, in
its order, but materializes each layer's output inside that layer's span so
the event log can attribute jobs to layers. The walk drops two things the
untraced call does: it runs its branches one after another instead of on a
thread pool, and it caches a few outputs the untraced call pipelines
through. The caller checks that both give the same (url, cluster_id) set.

Funnel counts are taken after each span closes, so their jobs are charged
to no layer.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fuzzy_dedupe_pipeline_spark import cc as cc_mod
from fuzzy_dedupe_pipeline_spark.canonical import cluster_output
from fuzzy_dedupe_pipeline_spark.config import DedupeConfig
from fuzzy_dedupe_pipeline_spark.dataflow import with_exact_rep
from fuzzy_dedupe_pipeline_spark.lsh import band_table, candidate_pairs
from fuzzy_dedupe_pipeline_spark.minhash import with_signatures, with_verify_sigs
from fuzzy_dedupe_pipeline_spark.normalize import normalize_text_col, tokens_raw_col
from fuzzy_dedupe_pipeline_spark.substring import substring_candidates
from fuzzy_dedupe_pipeline_spark.verify import verify_pairs

from spans import Tracer

LAYERS = [
    "normalize",
    "dataflow.exact_rep",
    "minhash.signatures",
    "lsh",
    "substring",
    "minhash.verify_sigs",
    "verify",
    "cc",
    "canonical",
]

MATCH_TYPES = {
    "hybrid": "hybrid",
    "jaccard+simhash": "jaccard_simhash",
    "jaccard": "jaccard",
    "substring": "substring",
}


def traced_dedupe(
    spark: SparkSession, docs: DataFrame, cfg: DedupeConfig, tracer: Tracer
) -> tuple[list, dict]:
    """Returns ((url, cluster_id) rows, funnel counts)."""
    persists: list[DataFrame] = []
    funnel: dict[str, float] = {}

    def keep(df: DataFrame) -> DataFrame:
        df = df.persist()
        persists.append(df)
        return df

    with tracer.span("normalize") as s:
        clean = keep(
            docs.select(F.col("url").cast("string").alias("id"), F.col("text").alias("text_final"))
            .repartition(spark.sparkContext.defaultParallelism)
            .select(
                "id",
                F.length("text_final").alias("text_len"),
                normalize_text_col(F.col("text_final")).alias("text_norm"),
            )
        )
        s.counts["rows_out"] = clean.count()

    with tracer.span("dataflow.exact_rep") as s:
        keyed = keep(with_exact_rep(clean).drop("tkey"))
        s.counts["rows_out"] = keyed.count()
        exact = keyed.filter(F.col("id") != F.col("rep")).select(
            F.col("rep").alias("id1"),
            F.col("id").alias("id2"),
            F.lit(1.0).alias("confidence"),
        ).localCheckpoint()
        ids_text = keyed.select("id", "rep", "text_len").localCheckpoint()
    reps = keyed.filter(F.col("id") == F.col("rep")).select("id", "text_norm")
    funnel["dataflow.exact_edges"] = exact.count()
    funnel["dataflow.exact_reps"] = s.counts["rows_out"] - funnel["dataflow.exact_edges"]

    with tracer.span("minhash.signatures") as s:
        sigs_small = keep(
            with_signatures(
                reps.select(F.col("id").alias("url"), "text_norm"),
                cfg,
                id_col="url",
                text_col="text_norm",
            ).drop("shingles")
        )
        s.counts["rows_out"] = sigs_small.count()

    with tracer.span("lsh") as s:
        lsh_pairs, dropped = candidate_pairs(sigs_small, cfg, persists=persists)
        lsh_pairs = keep(lsh_pairs)
        s.counts["rows_out"] = lsh_pairs.count()
    sizes = (
        band_table(sigs_small, cfg)
        .groupBy("band_id", "band_hash")
        .count()
        .agg(F.sum((F.col("count") >= 2).cast("long")), F.max("count"))
        .first()
    )
    funnel["lsh.buckets"] = sizes[0] or 0
    funnel["lsh.max_bucket"] = sizes[1] or 0
    funnel["lsh.dropped_buckets"] = dropped.count()

    with tracer.span("substring") as s:
        toks = reps.select("id", tokens_raw_col(F.col("text_norm")).alias("tokens"))
        sub_pairs, dropped_fps = substring_candidates(toks, cfg, persists=persists)
        sub_pairs = keep(sub_pairs)
        s.counts["rows_out"] = sub_pairs.count()
    funnel["substring.dropped_fps"] = dropped_fps.count()

    with tracer.span("minhash.verify_sigs") as s:
        end_ids = (
            lsh_pairs.select(F.col("id1").alias("id"))
            .union(lsh_pairs.select(F.col("id2").alias("id")))
            .union(sub_pairs.select(F.col("id1").alias("id")))
            .union(sub_pairs.select(F.col("id2").alias("id")))
            .distinct()
        )
        sigs_verify = keep(
            with_verify_sigs(
                reps.join(end_ids, "id", "left_semi").select(F.col("id").alias("url"), "text_norm"),
                cfg,
                id_col="url",
                text_col="text_norm",
            )
        )
        s.counts["rows_out"] = sigs_verify.count()

    with tracer.span("verify") as s:
        near = verify_pairs(
            lsh_pairs, sub_pairs, sigs_verify, cfg=replace(cfg, verify_prefilter=False), persists=persists
        ).localCheckpoint()
        s.counts["rows_out"] = near.count()
    funnel["verify.candidates"] = lsh_pairs.union(sub_pairs).distinct().count()
    funnel["verify.pass_ratio"] = s.counts["rows_out"] / max(1, funnel["verify.candidates"])
    by_type = dict(near.groupBy("match_type").count().collect())
    for raw, name in MATCH_TYPES.items():
        funnel[f"verify.edges.{name}"] = by_type.get(raw, 0)

    with tracer.span("cc") as s:
        labels = cc_mod.connected_components(
            near.select("id1", "id2"), max_iters=cfg.cc_max_iters, checkpoint_dir=cfg.checkpoint_dir
        )
        for df in persists:
            df.unpersist()
        rep_labels = cc_mod.attach_singletons(
            ids_text.filter(F.col("id") == F.col("rep")).select("id"), labels
        )
        member_labels = (
            ids_text.filter(F.col("id") != F.col("rep"))
            .select("id", "rep")
            .join(rep_labels.select(F.col("id").alias("rep"), "cluster_id"), "rep")
            .select("id", "cluster_id")
        )
        members = rep_labels.union(member_labels).localCheckpoint()
        s.counts["rows_out"] = members.count()
    funnel["cc.components"] = labels.select("cluster_id").distinct().count()

    with tracer.span("canonical") as s:
        all_edges = near.select("id1", "id2", "confidence").union(exact)
        out = cluster_output(members, all_edges, ids_text.select("id", "text_len"))
        rows = out.select("url", "cluster_id", "duplicate_count").collect()
        s.counts["rows_out"] = len(rows)
    funnel["cc.largest_cluster"] = max((r["duplicate_count"] for r in rows), default=0)
    return [(r["url"], r["cluster_id"]) for r in rows], funnel

