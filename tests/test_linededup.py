"""Corpus-level boilerplate line removal."""

from __future__ import annotations

import pytest
from conftest import executed_plan, node_name, plan_nodes
from pyspark.sql import functions as F

from fuzzy_dedupe_pipeline_spark.linededup import frequent_lines, remove_boilerplate


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_removes_frequent_preserves_order(spark):
    docs = _docs(
        spark,
        [
            (1, "nav\nalpha\nfooter\nbeta"),
            (2, "nav\ngamma\nfooter"),
            (3, "nav\ndelta"),
        ],
    )
    out = {
        r.doc_id: (r.text_clean, r.n_lines, r.n_removed)
        for r in remove_boilerplate(docs, min_docs=2).collect()
    }
    assert out == {
        1: ("alpha\nbeta", 4, 2),
        2: ("gamma", 3, 2),
        3: ("delta", 2, 1),
    }


def test_internal_repetition_counts_one_doc(spark):
    # a line repeated 5x INSIDE one doc is still df=1 -> not boilerplate
    docs = _docs(
        spark,
        [(1, "spam\nspam\nspam\nspam\nspam"), (2, "other")],
    )
    assert frequent_lines(docs, min_docs=2).count() == 0
    out = remove_boilerplate(docs, min_docs=2).filter(F.col("doc_id") == 1).first()
    assert out.text_clean == "spam\nspam\nspam\nspam\nspam"
    assert out.n_removed == 0


def test_all_boilerplate_doc_survives_empty(spark):
    docs = _docs(spark, [(1, "nav"), (2, "nav"), (3, "nav\nkeep")])
    out = {r.doc_id: r.text_clean for r in remove_boilerplate(docs, min_docs=3).collect()}
    assert out == {1: "", 2: "", 3: "keep"}


def test_null_text_is_zero_lines(spark):
    docs = _docs(spark, [(1, None), (2, "nav"), (3, "nav")])
    out = {r.doc_id: r for r in remove_boilerplate(docs, min_docs=2).collect()}
    assert (out[1].text_clean, out[1].n_lines, out[1].n_removed) == ("", 0, 0)


def test_blank_lines_ignored(spark):
    docs = _docs(spark, [(1, "a\n\n  \nb"), (2, "c")])
    row = remove_boilerplate(docs, min_docs=2).filter(F.col("doc_id") == 1).first()
    assert (row.text_clean, row.n_lines) == ("a\nb", 2)


def _anti_join_ops(df) -> list[str]:
    return [
        node_name(n)
        for n in plan_nodes(executed_plan(df))
        if node_name(n).endswith("JoinExec") and n.joinType().toString() == "LeftAnti"
    ]


@pytest.mark.parametrize(
    "threshold, join",
    [(None, "BroadcastHashJoinExec"), ("-1", "SortMergeJoinExec")],
    ids=["default", "no_broadcast"],
)
def test_anti_join_follows_broadcast_threshold(spark, threshold, join):
    # the default boilerplate probe is a broadcast HASH anti join (O(1)
    # probe, set lives in the join's hash relation), never a collected array
    # scanned per line; no hint pins the broadcast, so a frequent-line set
    # over the threshold (-1: every set) falls back to sort-merge, same rows.
    # The executed plan is read after the run: these in-memory docs have no
    # size estimate, so the static plan is sort-merge at any threshold, and
    # AQE switches to a broadcast at run time, after the docs' lines have
    # been shuffled, when the shuffled line counts fit the threshold.
    docs = _docs(spark, [(1, "nav\nalpha"), (2, "nav\nbeta"), (3, "gamma")])
    key = "spark.sql.autoBroadcastJoinThreshold"
    default = spark.conf.get(key)
    try:
        if threshold is not None:
            spark.conf.set(key, threshold)
        out = remove_boilerplate(docs, min_docs=2)
        rows = sorted(tuple(r) for r in out.collect())
        assert _anti_join_ops(out) == [join]
    finally:
        spark.conf.set(key, default)
    assert rows == [(1, "alpha", 2, 1), (2, "beta", 2, 1), (3, "gamma", 1, 0)]


def test_small_set_broadcasts_past_corpus_estimate(spark, tmp_path):
    """The anti join follows the size of the frequent-line set, not of the
    corpus: with the threshold lowered below the corpus's size estimate (and
    below its shuffled line counts, which AQE would measure), a 2-line set
    is still broadcast."""
    n = 600
    rows = [(i, f"nav\nfooter\nbody line {i} " + "x" * 40) for i in range(n)]
    path = str(tmp_path / "docs")
    _docs(spark, rows).write.parquet(path)
    docs = spark.read.parquet(path)
    threshold = 4096
    assert docs._jdf.queryExecution().optimizedPlan().stats().sizeInBytes() > threshold
    key = "spark.sql.autoBroadcastJoinThreshold"
    default = spark.conf.get(key)
    try:
        spark.conf.set(key, str(threshold))
        out = remove_boilerplate(docs, min_docs=2)
        got = {r.doc_id: (r.text_clean, r.n_lines, r.n_removed) for r in out.collect()}
        assert _anti_join_ops(out) == ["BroadcastHashJoinExec"]
    finally:
        spark.conf.set(key, default)
    assert got == {i: (f"body line {i} " + "x" * 40, 3, 2) for i in range(n)}


def test_adversarial_corpus_rows(spark):
    # NULL text, all-boilerplate doc, internal repetition, blank lines, a doc
    # with zero boilerplate
    docs = _docs(
        spark,
        [
            (1, None),
            (2, "nav\nalpha\nnav\nbeta"),
            (3, "nav"),
            (4, "nav\n\n  \ngamma"),
            (5, "delta\nepsilon"),
            (6, "nav\nzeta"),
        ],
    )
    out = {r.doc_id: r.text_clean for r in remove_boilerplate(docs, min_docs=3).collect()}
    assert out == {
        1: "",
        2: "alpha\nbeta",
        3: "",
        4: "gamma",
        5: "delta\nepsilon",
        6: "zeta",
    }


def test_metachar_separator_is_literal(spark):
    # sep feeds F.split (regex) on the way in but concat_ws (literal) on the
    # way out — a metacharacter sep like '|' must round-trip as a literal,
    # not explode every doc per-character
    docs = _docs(
        spark,
        [
            (1, "nav | alpha | beta"),
            (2, "nav | gamma"),
            (3, "nav"),
        ],
    )
    out = {
        r.doc_id: (r.text_clean, r.n_lines, r.n_removed)
        for r in remove_boilerplate(docs, sep="|", min_docs=2).collect()
    }
    assert out == {
        1: ("alpha|beta", 3, 1),
        2: ("gamma", 2, 1),
        3: ("", 1, 1),
    }
