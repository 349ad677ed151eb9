"""LSH skew-cap behavior, verification cascade arms, fingerprint winnowing."""

from __future__ import annotations

import dataclasses

import pytest
from pyspark.sql import functions as F

from fuzzy_dedupe_pipeline_spark.config import DedupeConfig
from fuzzy_dedupe_pipeline_spark.lsh import candidate_pairs
from fuzzy_dedupe_pipeline_spark.minhash import with_signatures
from fuzzy_dedupe_pipeline_spark.textstats import doc_fingerprints
from fuzzy_dedupe_pipeline_spark.verify import verify_pairs

CFG = DedupeConfig()

TEXT = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform victor"
)


def _sigs(spark, rows):
    df = spark.createDataFrame(rows, "url string, text_norm string")
    return with_signatures(df, CFG, id_col="url", text_col="text_norm")


def test_hot_bucket_capped_and_logged(spark):
    # 10 identical docs -> identical minhash -> every band bucket has size 10
    rows = [(f"u{i:02d}", TEXT) for i in range(10)]
    sigs = _sigs(spark, rows)

    tight = dataclasses.replace(CFG, max_band_bucket=5)
    pairs, dropped = candidate_pairs(sigs, tight)
    assert pairs.count() == 0  # every bucket excluded by the cap
    d = dropped.collect()
    assert len(d) == CFG.lsh_bands and all(r["bucket_size"] == 10 for r in d)

    loose = dataclasses.replace(CFG, max_band_bucket=100)
    pairs2, dropped2 = candidate_pairs(sigs, loose)
    assert pairs2.count() == 45  # C(10,2), deduped across bands
    assert dropped2.count() == 0


def test_verify_jaccard_arm_and_rejection(spark):
    near = TEXT.replace("victor", "walrus")  # 1 token of 22 edited
    far = "zebra yak xylophone wombat vulture " * 5
    sigs = _sigs(spark, [("a", TEXT), ("b", near), ("c", far)])
    cand = spark.createDataFrame(
        [("a", "b"), ("a", "c")], "id1 string, id2 string"
    )
    out = verify_pairs(cand, cand.limit(0), sigs, CFG).collect()
    got = {(r["id1"], r["id2"]): r for r in out}
    assert ("a", "c") not in got
    ab = got[("a", "b")]
    assert ab["jaccard"] >= CFG.jaccard_threshold
    assert ab["match_type"] in ("jaccard", "jaccard+simhash", "hybrid")
    assert 0.0 < ab["confidence"] <= CFG.confidence_cap


def test_verify_substring_arm_requires_shared_shingle_count(spark):
    # run of >= substring_min_shared_shingles + k shared tokens embedded in a
    # much larger host doc: jaccard tiny, substring arm must fire
    run = " ".join(f"tok{i}" for i in range(60))
    host = ("filler%d " * 400) % tuple(range(400)) + run
    sigs = _sigs(spark, [("small", run), ("big", host)])
    cand = spark.createDataFrame([("big", "small")], "id1 string, id2 string")

    out = verify_pairs(cand.limit(0), cand, sigs, CFG).collect()
    assert len(out) == 1
    r = out[0]
    assert r["match_type"] == "substring"
    assert r["jaccard"] < CFG.jaccard_threshold
    assert r["shared_shingles"] >= CFG.substring_min_shared_shingles


def test_winnowing_guarantee_on_fingerprints(spark):
    """Docs sharing a verbatim run of >= k+window-1 tokens share at least one
    selected fingerprint (the equi-join candidate guarantee)."""
    k, w = 8, 4
    run = " ".join(f"shared{i}" for i in range(k + w - 1))
    d1 = "pre1 pre2 pre3 " + run + " post1"
    d2 = "other1 other2 " + run + " tail9 tail10"
    df = spark.createDataFrame(
        [(1, d1), (2, d2)], "doc_id long, text string"
    )
    fp = doc_fingerprints(df, k=k, window=w)
    shared = (
        fp.groupBy("fingerprint")
        .agg(F.countDistinct("doc_id").alias("n"))
        .filter(F.col("n") == 2)
        .count()
    )
    assert shared >= 1


def test_fingerprints_disjoint_docs_share_nothing(spark):
    df = spark.createDataFrame(
        [
            (1, " ".join(f"a{i}" for i in range(40))),
            (2, " ".join(f"b{i}" for i in range(40))),
        ],
        "doc_id long, text string",
    )
    fp = doc_fingerprints(df, k=8, window=4)
    shared = (
        fp.groupBy("fingerprint")
        .agg(F.countDistinct("doc_id").alias("n"))
        .filter(F.col("n") == 2)
        .count()
    )
    assert shared == 0


def test_bucket_pairs_match_combinations_oracle(spark):
    """Pairs and payload against itertools.combinations per bucket: buckets
    of size 1, exactly cap and cap + 1 (dropped, listed in `dropped`), and
    NULL keys, which group into one bucket as GROUP BY groups them."""
    import itertools
    from collections import Counter, defaultdict

    from fuzzy_dedupe_pipeline_spark.lsh import bucket_pairs

    cap = 4
    sizes = {"one": 1, "pair": 2, "at_cap": cap, "over_cap": cap + 1, None: 3}
    rows = [
        (f"{key}-{i}", key, i * 10 + len(str(key)))
        for key, n in sizes.items()
        for i in reversed(range(n))  # unsorted input: the sort is bucket_pairs'
    ]
    df = spark.createDataFrame(rows, "id string, k string, v long")
    pairs, dropped = bucket_pairs(df, ["k"], cap, ["v"])
    assert pairs.columns == ["k", "id1", "id2", "v1", "v2"]

    buckets = defaultdict(list)
    for id_, k, v in rows:
        buckets[k].append((id_, v))
    want = Counter(
        (k, a[0], b[0], a[1], b[1])
        for k, members in buckets.items()
        if len(members) <= cap
        for a, b in itertools.combinations(sorted(members), 2)
    )
    got = Counter(tuple(r) for r in pairs.collect())
    assert got == want
    assert {r[0] for r in got} == {"pair", "at_cap", None}
    assert [tuple(r) for r in dropped.collect()] == [("over_cap", cap + 1)]
