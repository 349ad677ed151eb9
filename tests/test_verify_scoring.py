"""verify.score_candidates pinned to a plain-Python statement of its formulas,
over hand-made signature rows at the gates' boundaries, and its plan: one
shingle intersection per pair."""

from __future__ import annotations

import dataclasses

import pytest
from conftest import executed_plan, expression_names, plan_nodes

from fuzzy_dedupe_pipeline_spark.config import DedupeConfig
from fuzzy_dedupe_pipeline_spark.verify import score_candidates, verify_pairs

CFG = DedupeConfig()
MASK64 = (1 << 64) - 1


def _overlap(n1: int, n2: int, inter: int) -> tuple[list[int], list[int]]:
    """Two distinct-element shingle arrays of sizes n1, n2 sharing inter."""
    return list(range(n1)), list(range(n1 - inter, n1 - inter + n2))


def _flip(bits: int) -> int:
    """A signed 64-bit SimHash differing from 0 in its low `bits` bits."""
    v = (1 << bits) - 1
    return v - (1 << 64) if v >> 63 else v


# (label, shingles_a, shingles_b, simhash_b against simhash_a = 0, substring_match)
CASES = [
    # J = 4/5 = theta exactly, with each secondary arm of the tree
    ("at_theta_simhash", *_overlap(4, 5, 4), _flip(2), False),
    ("at_theta_hybrid", *_overlap(4, 5, 4), _flip(15), True),
    ("at_theta_plain", *_overlap(4, 5, 4), _flip(30), False),
    ("at_theta_plain_sub", *_overlap(4, 5, 4), _flip(30), True),
    # J = 399/500, just below theta
    ("below_theta", *_overlap(449, 450, 399), _flip(1), False),
    ("below_theta_sub", *_overlap(449, 450, 399), _flip(1), True),
    # substring arm: 40 and 39 shared shingles in large hosts
    ("shared_40_sub", *_overlap(400, 300, 40), _flip(5), True),
    ("shared_40", *_overlap(400, 300, 40), _flip(5), False),
    ("shared_39_sub", *_overlap(400, 300, 39), _flip(5), True),
    ("shared_39", *_overlap(400, 300, 39), _flip(5), False),
    # empty shingle arrays: union 0 and min size 0
    ("empty_both", [], [], _flip(64), True),
    ("empty_one", [], [1, 2, 3], 0, True),
]


def _expected(cfg: DedupeConfig, sh1, sh2, s1, s2, sub) -> tuple | None:
    """The row score_candidates emits for one pair, or None if rejected."""
    inter = len(set(sh1) & set(sh2))
    n1, n2 = len(sh1), len(sh2)
    union = n1 + n2 - inter
    jac = inter / union if union > 0 else 0.0
    cont = inter / min(n1, n2) if min(n1, n2) > 0 else 0.0
    sim = 1.0 - bin((s1 ^ s2) & MASK64).count("1") / 64.0
    theta = cfg.jaccard_threshold
    if not (jac >= theta or (sub and inter >= cfg.substring_min_shared_shingles)):
        return None
    capped = min(cfg.confidence_cap, (jac + sim) / 2)
    if jac >= theta and sub and sim >= cfg.hybrid_secondary_threshold:
        mtype, conf = "hybrid", capped
    elif jac >= theta and sim >= cfg.simhash_sim_threshold:
        mtype, conf = "jaccard+simhash", capped
    elif jac >= theta:
        mtype, conf = "jaccard", jac
    else:
        mtype, conf = "substring", min(cfg.confidence_cap, cont)
    return (jac, sim, cont, inter, sub, mtype, conf)


@pytest.fixture(scope="module")
def frames(spark):
    sigs, cand = [], []
    for label, sh1, sh2, s2, sub in CASES:
        sigs += [(f"{label}/a", sh1, 0), (f"{label}/b", sh2, s2)]
        cand.append((f"{label}/a", f"{label}/b", sub))
    return (
        spark.createDataFrame(cand, "id1 string, id2 string, substring_match boolean"),
        spark.createDataFrame(sigs, "id string, shingles array<bigint>, simhash bigint"),
    )


@pytest.mark.parametrize("theta", [CFG.jaccard_threshold, 0.0])
def test_score_candidates_matches_python_formulas(frames, theta):
    """Every output column equals the plain-Python formulas, and exactly the
    pairs the gate admits come out. theta = 0 admits every pair, so the
    rejected cases' scores (union 0 included) are pinned too."""
    cfg = dataclasses.replace(CFG, jaccard_threshold=theta)
    cand, sigs = frames
    got = {
        r["id1"].split("/")[0]: tuple(r)[2:]
        for r in score_candidates(cand, sigs, cfg).collect()
    }
    want = {}
    for label, sh1, sh2, s2, sub in CASES:
        row = _expected(cfg, sh1, sh2, 0, s2, sub)
        if row is not None:
            want[label] = row
    assert got == want
    if theta == CFG.jaccard_threshold:
        assert {"at_theta_plain", "shared_40_sub"} <= got.keys()
        assert not {"below_theta", "shared_39_sub", "shared_40"} & got.keys()
        assert {got[k][5] for k in got} == {
            "hybrid", "jaccard+simhash", "jaccard", "substring"
        }
    else:
        assert got.keys() == {c[0] for c in CASES}


@pytest.mark.parametrize("caller", ["score_candidates", "verify_pairs", "no_prefilter"])
def test_score_candidates_plan_one_intersection(frames, caller):
    """The shingle intersection appears once in the executed plan, also as
    verify_pairs composes it: the pass filter must not be inlined where each
    use re-evaluates it."""
    cand, sigs = frames
    if caller == "score_candidates":
        out = score_candidates(cand, sigs, CFG)
    else:
        cfg = dataclasses.replace(CFG, verify_prefilter=caller == "verify_pairs")
        sub = cand.filter("substring_match").select("id1", "id2")
        out = verify_pairs(cand.select("id1", "id2"), sub, sigs, cfg)
    plan = executed_plan(out)
    names = [e for n in plan_nodes(plan) for e in expression_names(n)]
    assert names.count("ArrayIntersect") == 1
