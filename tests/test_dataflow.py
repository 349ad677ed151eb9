"""The session path's fused front end (dataflow.signature_table,
candidate_table and dedupe_edges) against the separate stage functions the
durable pipeline composes: same verified edges, one Arrow pass, count before
collect (also in the SimHash and n-gram joins), and the candidate UDF's
shingles and SimHash equal to the verify UDF's."""

from __future__ import annotations

import dataclasses

import pytest
from conftest import executed_plan, node_name, plan_nodes
from pyspark.sql import functions as F

from fuzzy_dedupe_pipeline_spark.config import DedupeConfig
from fuzzy_dedupe_pipeline_spark.dataflow import (
    candidate_table,
    clean_docs,
    dedupe_edges,
    make_candidate_udf,
    signature_table,
    simhash_near_dup_pairs,
    with_exact_rep,
)
from fuzzy_dedupe_pipeline_spark.lsh import candidate_pairs
from fuzzy_dedupe_pipeline_spark.minhash import (
    _CHUNK,
    make_verify_udf,
    with_sig_udf,
    with_signatures,
    with_verify_sigs,
)
from fuzzy_dedupe_pipeline_spark.normalize import tokens_raw_col
from fuzzy_dedupe_pipeline_spark.substring import substring_candidates
from fuzzy_dedupe_pipeline_spark.textstats import ngram_jaccard_pairs
from fuzzy_dedupe_pipeline_spark.verify import verify_pairs

# low enough to drop both LSH band buckets and fingerprint buckets of the
# 400-doc corpus fixture
LOW_CAP = 3


@pytest.fixture(scope="module")
def reps(spark, pages_df):
    clean = clean_docs(pages_df, "url", "text")
    out = with_exact_rep(clean).filter("id = rep").select("id", "text_norm").persist()
    yield out
    out.unpersist()


def _staged(reps, cfg, with_substring):
    """verify_pairs over candidate_pairs and substring_candidates, as the
    durable pipeline composes them; also each stage's dropped-bucket log."""
    sigs = with_signatures(reps, cfg, id_col="id")
    lsh, dropped = candidate_pairs(sigs, cfg)
    if with_substring:
        toks = reps.select("id", tokens_raw_col(F.col("text_norm")).alias("tokens"))
        sub, dropped_fps = substring_candidates(toks, cfg)
    else:
        sub, dropped_fps = lsh.limit(0), None
    edges = verify_pairs(lsh, sub, with_verify_sigs(reps, cfg, "id", "text_norm"), cfg)
    return edges, dropped, dropped_fps


@pytest.mark.parametrize(
    "cap, with_substring",
    [(DedupeConfig().max_band_bucket, True), (LOW_CAP, True), (DedupeConfig().max_band_bucket, False)],
)
def test_fused_edges_match_stage_functions(spark, reps, cap, with_substring):
    cfg = dataclasses.replace(DedupeConfig(), max_band_bucket=cap)
    persists: list = []
    fused = {tuple(r) for r in dedupe_edges(reps, cfg, with_substring, persists).collect()}
    for df in persists:
        df.unpersist()
    staged, dropped, dropped_fps = _staged(reps, cfg, with_substring)
    want = {tuple(r) for r in staged.collect()}
    assert want and fused == want
    if with_substring:
        assert any(r[6] for r in want)  # substring_match reaches the edges
    if cap == LOW_CAP:
        assert dropped.count() > 0 and dropped_fps.count() > 0


def _agg_functions(node) -> list[str]:
    exprs = node.aggregateExpressions()
    return [
        node_name(exprs.apply(i).aggregateFunction()) for i in range(exprs.size())
    ]


def _window_functions(node) -> list[str]:
    exprs = node.windowExpression()  # Alias(WindowExpression(fn, spec))
    fns = [exprs.apply(i).child().windowFunction() for i in range(exprs.size())]
    # an aggregate used as a window function is wrapped in AggregateExpression
    return [
        node_name(f.aggregateFunction() if node_name(f) == "AggregateExpression" else f)
        for f in fns
    ]


def _arrow_udfs(plan, caches: set | None = None) -> int:
    return [node_name(n) for n in plan_nodes(plan, caches)].count("ArrowEvalPythonExec")


def test_dedupe_edges_plan_one_udf(spark, reps):
    """One Arrow UDF pass per call: candidate generation and scoring both
    read the one cached signature table, which no second pass over the
    candidate endpoints rebuilds."""
    persists: list = []
    edges = dedupe_edges(reps, DedupeConfig(), persists=persists)
    try:
        assert _arrow_udfs(executed_plan(edges), set()) == 1
    finally:
        for df in persists:
            df.unpersist()


@pytest.mark.parametrize(
    "build, udfs",
    [
        (lambda reps, cfg: candidate_table(signature_table(reps, cfg), cfg), 1),
        (simhash_near_dup_pairs, 1),
        (
            lambda reps, cfg: ngram_jaccard_pairs(
                reps, id_col="id", text_col="text_norm", block_cols=()
            )[0],
            0,
        ),
    ],
    ids=["candidate_table", "simhash_near_dup_pairs", "ngram_jaccard_pairs"],
)
def test_plan_counts_before_collect(spark, reps, build, udfs):
    """Every bucket-pair join counts its buckets before it collects them:
    the bucket-size window count sits below the collect_list, so no bucket
    over the cap ever builds an array. The plan's Arrow UDF pass, where
    there is one, runs once and feeds that count."""
    plan = executed_plan(build(reps, DedupeConfig()))
    collect = next(
        n
        for n in plan_nodes(plan)
        if node_name(n).endswith("AggregateExec") and "CollectList" in _agg_functions(n)
    )
    count = next(
        n
        for n in plan_nodes(collect)
        if node_name(n) == "WindowExec" and "Count" in _window_functions(n)
    )
    assert _arrow_udfs(plan) == _arrow_udfs(count) == udfs


def test_simhash_pairs_plan_one_udf(spark, reps):
    """The SimHash UDF runs once per row: docs without shingles explode no
    chunks instead of being filtered, which would re-evaluate the UDF."""
    plan = executed_plan(simhash_near_dup_pairs(reps, DedupeConfig()))
    assert _arrow_udfs(plan) == 1


def test_candidate_udf_shingles_simhash_match_verify_udf(spark, reps):
    """Scoring reads the candidate UDF's shingles and simhash where it used
    to read make_verify_udf's: both must be equal row for row, including
    empty text, rows shorter than k (one whole-row shingle) and a row whose
    shingles span more than one cache chunk of minhash._CHUNK."""
    cfg = DedupeConfig()
    long_row = " ".join(f"w{i}" for i in range(_CHUNK + cfg.shingle_k + 100))
    short_row = " ".join(f"s{i}" for i in range(cfg.shingle_k - 1))
    extra = spark.createDataFrame(
        [("empty", ""), ("null", None), ("short", short_row), ("long", long_row)],
        "id string, text_norm string",
    )
    rows = reps.union(extra)

    def sigs(udf):
        out = with_sig_udf(rows, udf, "id", "text_norm").select("id", "shingles", "simhash")
        return {r.id: (tuple(r.shingles), r.simhash) for r in out.collect()}

    got = sigs(make_candidate_udf(cfg))
    want = sigs(make_verify_udf(cfg))
    assert got == want
    assert got["empty"] == got["null"] == ((), 0)
    assert len(got["short"][0]) == 1
    assert len(got["long"][0]) > _CHUNK
