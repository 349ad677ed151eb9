"""The session path's fused candidate front end (dataflow.candidate_table and
dedupe_edges) against the separate stage functions the durable pipeline
composes: same verified edges, one Arrow pass, count before collect."""

from __future__ import annotations

import dataclasses

import pytest
from pyspark.sql import functions as F

from fuzzy_dedupe_pipeline_spark.config import DedupeConfig
from fuzzy_dedupe_pipeline_spark.dataflow import (
    candidate_table,
    clean_docs,
    dedupe_edges,
    with_exact_rep,
)
from fuzzy_dedupe_pipeline_spark.lsh import candidate_pairs
from fuzzy_dedupe_pipeline_spark.minhash import with_signatures, with_verify_sigs
from fuzzy_dedupe_pipeline_spark.normalize import tokens_raw_col
from fuzzy_dedupe_pipeline_spark.substring import substring_candidates
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


def _nodes(plan):
    yield plan
    kids = plan.children()
    for i in range(kids.size()):
        yield from _nodes(kids.apply(i))


def _name(node) -> str:
    return node.getClass().getSimpleName()


def _agg_functions(node) -> list[str]:
    exprs = node.aggregateExpressions()
    return [
        _name(exprs.apply(i).aggregateFunction()) for i in range(exprs.size())
    ]


def _window_functions(node) -> list[str]:
    exprs = node.windowExpression()  # Alias(WindowExpression(fn, spec))
    fns = [exprs.apply(i).child().windowFunction() for i in range(exprs.size())]
    # an aggregate used as a window function is wrapped in AggregateExpression
    return [
        _name(f.aggregateFunction() if _name(f) == "AggregateExpression" else f)
        for f in fns
    ]


def test_candidate_table_plan_one_udf_count_before_collect(spark, reps):
    """One Arrow UDF pass feeds both candidate kinds, and the bucket-size
    count sits between it and the collect_list, so no bucket over the cap
    ever builds an array."""
    plan = candidate_table(reps, DedupeConfig())._jdf.queryExecution().executedPlan()
    if _name(plan) == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    assert [_name(n) for n in _nodes(plan)].count("ArrowEvalPythonExec") == 1

    collect = next(
        n
        for n in _nodes(plan)
        if _name(n).endswith("AggregateExec") and "CollectList" in _agg_functions(n)
    )
    count = next(
        n
        for n in _nodes(collect)
        if _name(n) == "WindowExec" and "Count" in _window_functions(n)
    )
    assert "ArrowEvalPythonExec" in [_name(n) for n in _nodes(count)]
