"""Physical-plan assertions — the scale contract, checked like any other test.

Correctness tests prove the small-SF answers; these prove the *plans* are the
ones that survive 100 TB: filters reach the parquet scan, projections prune
the read schema, small dimensions broadcast, aggregates are map-side partial,
and nothing in the dedup dataflow degenerates to a cartesian product.
"""

from __future__ import annotations

import pytest
from conftest import executed_plan, node_name, plan_nodes
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_and_column_pruning(spark):
    df = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .filter(F.col("lang") == "en")
        .select("doc_id", "n_chars")
    )
    plan = _plan(df)
    # filter pushed to the scan
    assert "PushedFilters: [" in plan and "lang" in plan.split("PushedFilters: [")[1].split("]")[0]
    # only the needed columns are read (text must NOT be scanned)
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "doc_id" in read_schema and "n_chars" in read_schema and "lang" in read_schema
    assert "text" not in read_schema.replace("n_chars", "")


def test_join_agg_broadcasts_dimensions(spark):
    import __spark_entry__ as entrymod

    df = entrymod.queries()["join_agg_revenue"](spark, SF)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # both dims must broadcast
    # map-side partial aggregation before the exchange
    assert plan.count("HashAggregate") >= 2 or plan.count("ObjectHashAggregate") >= 2


def test_group_agg_is_partial(spark):
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["cluster_stats"](spark, SF))
    before, _, after = plan.partition("Exchange")
    assert "HashAggregate" in before and "HashAggregate" in after


def test_flagship_has_no_cartesian_product(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    # the LSH band self-join and CC joins are all equi-joins
    assert "BroadcastNestedLoopJoin" not in plan


def test_lsh_band_pairs_single_bucket_shuffle(spark):
    """Candidate generation is bucketed, never all-pairs: no cartesian/BNLJ
    anywhere, and the band table crosses exactly ONE hash exchange on the
    bucket key (the in-bucket enumeration rides the grouped rows; the only
    other exchange is the pair distinct)."""
    from fuzzy_dedupe_pipeline_spark.config import DedupeConfig
    from fuzzy_dedupe_pipeline_spark.dataflow import clean_docs
    from fuzzy_dedupe_pipeline_spark.lsh import candidate_pairs
    from fuzzy_dedupe_pipeline_spark.minhash import with_signatures

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    clean = clean_docs(docs, "doc_id", "text")
    sigs = with_signatures(
        clean.select(F.col("id").alias("url"), "text_norm"),
        DedupeConfig(),
        id_col="url",
        text_col="text_norm",
    )
    pairs, _ = candidate_pairs(sigs, DedupeConfig())
    plan = _plan(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    keys = [
        _hash_keys(n)
        for n in plan_nodes(executed_plan(pairs))
        if node_name(n) == "ShuffleExchangeExec"
    ]
    # one exchange LEADS with each key, and it has the full key list: no
    # second shuffle on band_id or id1 alone (or with other keys) either
    assert [k for k in keys if k and k[0] == "band_id"] == [["band_id", "band_hash"]]
    assert [k for k in keys if k and k[0] == "id1"] == [["id1", "id2"]]  # pair distinct


def _hash_keys(exchange) -> list[str] | None:
    """Column names a shuffle hash-partitions on; None for other schemes."""
    part = exchange.outputPartitioning()
    if node_name(part) != "HashPartitioning":
        return None
    exprs = part.expressions()
    return [exprs.apply(i).name() for i in range(exprs.size())]


def test_cosine_blocked_is_equi_join(spark):
    """The REGISTERED blocked cosine-pairs query must plan as an equi-join on
    the block column — never a BroadcastNestedLoopJoin / cartesian over the
    corpus (that is the exact baseline's explicitly-labeled role)."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["cosine_dup_pairs_blocked"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_textstats_tokenize_once(spark):
    """The corpus-wide lang_id / quality_score scans must evaluate the regex
    tokenizer ONCE per document: the staged projections materialize the token
    array / hit counts, and CollapseProject must not inline the split back
    into every consumer (that was ~5 regex passes per doc)."""
    import __spark_entry__ as entrymod

    for q in ("lang_id", "quality_score"):
        plan = _plan(entrymod.queries()[q](spark, SF))
        assert plan.count("split(") == 1, f"{q}: {plan.count('split(')} splits"


def test_session_scale_confs(spark):
    conf = spark.conf
    assert conf.get("spark.sql.adaptive.enabled") == "true"
    assert conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    assert conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"


def test_brute_force_topk_broadcasts_queries(spark):
    from fuzzy_dedupe_pipeline_spark.similarity import brute_force_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 50 == 0)
    plan = _plan(brute_force_topk(emb, q, k=5))
    # query side must broadcast; corpus side streams (no shuffle of the corpus
    # before the join)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_bpe_token_count_stays_jvm_side(spark):
    """The BPE-piece counter is one JVM projection over the scan — no Python
    evaluation node, no shuffle, only (doc_id, text) read. (The whitespace
    twin's higher-order filter lambda keeps the Project out of whole-stage
    codegen, but it is still Catalyst expression evaluation, not Python.)"""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["bpe_token_count"](spark, SF)
    plan = _plan(df)
    assert "EvalPython" not in plan  # Arrow/Batch Python nodes = slow path
    assert "Exchange" not in plan  # pure projection, no shuffle
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "lang" not in read_schema  # column pruning held


def test_repetition_stats_is_map_only(spark):
    """The repetition filter must run as a map-only JVM pass over the scan:
    no shuffle, no Python node — at 100 TB an explode+groupBy formulation
    would shuffle every token of every document."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["repetition_stats"](spark, SF)
    plan = _plan(df)
    assert "EvalPython" not in plan
    assert "Exchange" not in plan
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "lang" not in read_schema


def test_url_canonical_dedup_one_shuffle_partial_agg(spark):
    """Tier 0 is one groupBy on the canonical key: the regex canonicalizer
    is pure JVM expression evaluation (no Python node) and the count/min
    aggregate combines map-side before the single exchange."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["url_canonical_dedup"](spark, SF))
    assert "EvalPython" not in plan
    assert plan.count("Exchange") == 1
    before, _, after = plan.partition("Exchange")
    # min(string) is not hash-aggregable, so Spark picks SortAggregate —
    # the contract is the partial_min/partial_count combine on the map side
    # of the exchange, whatever the aggregate impl. (The plan string prints
    # top-down, so the map side is the text AFTER the Exchange line.)
    assert "partial_min" in after and "partial_count" in after
    assert "Aggregate" in before
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "doc_id" in read_schema and "text" not in read_schema


def test_remove_boilerplate_probe_is_hash_anti_join(spark):
    """The boilerplate probe is a broadcast HASH anti join — O(1) probe per
    line against the join's hash relation, never a collected array scanned
    per line (`array_contains` over a corpus-derived array was the round-5
    verdict's scale seam), never a shuffle join, no Python node anywhere."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["remove_boilerplate"](spark, SF))
    assert "EvalPython" not in plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "array_contains" not in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_pii_scrub_is_map_only(spark):
    """PII redaction is one JVM regex pass over the scan: no shuffle, no
    Python node, only (doc_id, text) read."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["pii_scrub"](spark, SF))
    assert "EvalPython" not in plan
    assert "Exchange" not in plan
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "lang" not in read_schema


def test_top_ngrams_partial_agg_and_topk_heap(spark):
    """Corpus bigram frequencies: map-side partial aggregate before the one
    exchange, and the global top-k must be TakeOrderedAndProject (bounded
    per-partition heaps), never a full Sort of the gram dictionary."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["top_ngrams"](spark, SF))
    before, _, after = plan.partition("Exchange")
    assert "HashAggregate" in before and "HashAggregate" in after
    assert "TakeOrderedAndProject" in plan


def test_blocklist_plans(spark):
    """Literal-list form: map-only (zero Exchange). DataFrame form: every
    join is a broadcast hash probe (the corpus relation never shuffles),
    nothing degenerates to a nested-loop/cartesian join."""
    from fuzzy_dedupe_pipeline_spark.urltools import with_blocklist_flag

    pages = spark.createDataFrame(
        [(1, "https://a.bad.com/x"), (2, "https://fine.org/y")],
        "doc_id long, url string",
    )
    lit_plan = _plan(with_blocklist_flag(pages, ["bad.com"]))
    assert "Exchange" not in lit_plan

    bl = spark.createDataFrame([("bad.com",)], "domain string")
    df_plan = _plan(with_blocklist_flag(pages, bl, id_col="doc_id"))
    assert "BroadcastHashJoin" in df_plan
    assert "SortMergeJoin" not in df_plan
    assert "CartesianProduct" not in df_plan
    assert "BroadcastNestedLoopJoin" not in df_plan
