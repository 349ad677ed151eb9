"""Connected-components: DataFrame min-label propagation vs a union-find
oracle, mirroring the reference BFS semantics (processor.py:206-228)."""

from __future__ import annotations

import os
import subprocess
import sys

import numpy as np
import pytest

from fuzzy_dedupe_pipeline_spark.cc import attach_singletons, connected_components


def _uf_oracle(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {str(i): str(find(i)) for i in range(n_nodes)}


def _run(spark, n_nodes, edges):
    edf = spark.createDataFrame(
        [(str(a), str(b)) for a, b in edges], "id1 string, id2 string"
    )
    all_ids = spark.createDataFrame([(str(i),) for i in range(n_nodes)], "id string")
    labels = connected_components(edf)
    got = {
        r.id: r.cluster_id for r in attach_singletons(all_ids, labels).collect()
    }
    # oracle labels by min int; ours by min string — compare partitions, not names
    want = _uf_oracle(n_nodes, edges)
    by_label_got: dict[str, set] = {}
    by_label_want: dict[str, set] = {}
    for k, v in got.items():
        by_label_got.setdefault(v, set()).add(k)
    for k, v in want.items():
        by_label_want.setdefault(v, set()).add(k)
    assert sorted(map(sorted, by_label_got.values())) == sorted(
        map(sorted, by_label_want.values())
    )
    return got


def test_chain(spark):
    got = _run(spark, 6, [(0, 1), (1, 2), (2, 3)])
    assert got["4"] == "4" and got["5"] == "5"  # singletons
    assert len({got[str(i)] for i in range(4)}) == 1


def test_two_cliques_with_bridge(spark):
    cliq1 = [(a, b) for a in range(3) for b in range(a + 1, 3)]
    cliq2 = [(a, b) for a in range(4, 7) for b in range(a + 1, 7)]
    _run(spark, 8, cliq1 + cliq2 + [(2, 4)])


def test_long_path_converges(spark):
    # path of 40 nodes: stresses iteration count (diameter propagation)
    _run(spark, 40, [(i, i + 1) for i in range(39)])


def test_long_path_log_rounds(spark):
    # pointer jumping: a 200-node path must converge in O(log2(200)) ~ 8-9
    # rounds, far below 14 — plain propagation would need ~200
    edf = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i+1:03d}") for i in range(199)],
        "id1 string, id2 string",
    )
    labels = connected_components(edf, max_iters=14, driver_max_edges=0)
    got = {r.id: r.cluster_id for r in labels.collect()}
    assert set(got.values()) == {"n000"}
    assert len(got) == 200


def test_nonconvergence_raises(spark):
    # a capped run must FAIL LOUDLY, never emit split clusters silently
    import pytest

    edf = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i+1:03d}") for i in range(199)],
        "id1 string, id2 string",
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edf, max_iters=2, driver_max_edges=0)


def test_random_graph(spark):
    rng = np.random.default_rng(7)
    n = 1000
    edges = [
        (int(a), int(b))
        for a, b in rng.integers(0, n, size=(800, 2))
        if a != b
    ]
    _run(spark, n, edges)


def test_reliable_checkpoint_dir_identical_labels(spark, tmp_path):
    """checkpoint_dir swaps localCheckpoint for reliable checkpoint():
    labels must be identical and checkpoint data must land in the dir
    (the shipped mitigation for executor-death losing localCheckpoint
    blocks on a real cluster)."""
    import os

    rng = np.random.default_rng(7)
    edges = [tuple(sorted(p)) for p in rng.integers(0, 60, size=(80, 2)) if p[0] != p[1]]
    edf = spark.createDataFrame(
        [(str(a), str(b)) for a, b in edges], "id1 string, id2 string"
    )
    base = {
        r.id: r.cluster_id
        for r in connected_components(edf, driver_max_edges=0).collect()
    }
    ckdir = str(tmp_path / "cc_ckpt")
    rel = {
        r.id: r.cluster_id
        for r in connected_components(
            edf, checkpoint_dir=ckdir, driver_max_edges=0
        ).collect()
    }
    assert rel == base
    # reliable checkpoints actually wrote RDD data under the dir
    found = [
        f for root, _, files in os.walk(ckdir) for f in files if f.startswith("part-")
    ]
    assert found, "no checkpoint blocks written to checkpoint_dir"


def test_reliable_checkpoints_are_cleaned_per_round(spark, tmp_path):
    """Each CC round's labels checkpoint is deleted once the next round
    materializes — otherwise the dir grows without bound when CC runs per
    micro-batch in streaming. A 64-node chain needs ~6 pointer-jump rounds;
    only sym + the final labels (+ at most one in-flight round) may remain."""
    import os

    n = 64
    edf = spark.createDataFrame(
        [(str(i).zfill(3), str(i + 1).zfill(3)) for i in range(n - 1)],
        "id1 string, id2 string",
    )
    ckdir = str(tmp_path / "cc_ckpt_clean")
    labels = connected_components(edf, checkpoint_dir=ckdir, driver_max_edges=0)
    assert labels.select("cluster_id").distinct().count() == 1
    # the context nests checkpoints under <dir>/<uuid>/rdd-*
    rdd_dirs = [
        d
        for root, dirs, _ in os.walk(ckdir)
        for d in dirs
        if d.startswith("rdd-")
    ]
    assert len(rdd_dirs) <= 3, f"stale checkpoint rounds left behind: {rdd_dirs}"


def test_concurrent_reliable_checkpoint_ccs_do_not_interfere(spark, tmp_path):
    """Round-4 ADVICE: two connected_components runs sharing one
    SparkContext checkpoint dir must not delete each other's live
    checkpoints mid-round — cleanup tracks each round's EXACT rdd-N dir
    (via the checkpointed plan's RDD) instead of set-diffing the shared
    directory, which captured concurrent writers' dirs."""
    from concurrent.futures import ThreadPoolExecutor

    ckdir = str(tmp_path / "cc_ckpt_conc")

    def run(tag: str, n: int):
        edf = spark.createDataFrame(
            [(f"{tag}:{i:03d}", f"{tag}:{i + 1:03d}") for i in range(n - 1)],
            "id1 string, id2 string",
        )
        out = connected_components(edf, checkpoint_dir=ckdir, driver_max_edges=0)
        return {r.id: r.cluster_id for r in out.collect()}

    with ThreadPoolExecutor(2) as ex:
        fa = ex.submit(run, "a", 48)
        fb = ex.submit(run, "b", 48)
        got_a, got_b = fa.result(), fb.result()
    assert set(got_a.values()) == {"a:000"}
    assert set(got_b.values()) == {"b:000"}


def test_driver_path_matches_distributed(spark):
    """The small-graph driver union-find must return EXACTLY the distributed
    fixpoint's labels (same min-id names, not just the same partition) — on
    string ids whose binary UTF8 order is exercised (zero-padded + ragged
    lengths, where '10' < '9' lexicographically) and on long ids."""
    rng = np.random.default_rng(11)
    edges = [
        (int(a), int(b)) for a, b in rng.integers(0, 300, size=(400, 2)) if a != b
    ]
    # string ids, ragged decimal rendering: lexicographic != numeric order
    edf_s = spark.createDataFrame(
        [(str(a), str(b)) for a, b in edges], "id1 string, id2 string"
    )
    drv = {r.id: r.cluster_id for r in connected_components(edf_s).collect()}
    dist = {
        r.id: r.cluster_id
        for r in connected_components(edf_s, driver_max_edges=0).collect()
    }
    assert drv == dist
    # long ids: numeric min
    edf_l = spark.createDataFrame(edges, "id1 long, id2 long")
    drv_l = {r.id: r.cluster_id for r in connected_components(edf_l).collect()}
    dist_l = {
        r.id: r.cluster_id
        for r in connected_components(edf_l, driver_max_edges=0).collect()
    }
    assert drv_l == dist_l
    # dtype must round-trip (downstream unions/joins need exact types)
    assert (
        connected_components(edf_l).schema["cluster_id"].dataType.simpleString()
        == "bigint"
    )


def test_driver_path_empty_edges(spark):
    edf = spark.createDataFrame([], "id1 string, id2 string")
    out = connected_components(edf)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["id", "cluster_id"]


@pytest.mark.parametrize("value, want", [("12345", 12345), ("", 500_000), ("5e5", 500_000)])
def test_driver_edges_env_parse(value, want):
    """A malformed SPARK_GRAFT_CC_DRIVER_EDGES falls back to the default with
    a warning instead of failing the import."""
    env = dict(os.environ, SPARK_GRAFT_CC_DRIVER_EDGES=value)
    out = subprocess.run(
        [
            sys.executable,
            "-W",
            "always",
            "-c",
            "from fuzzy_dedupe_pipeline_spark import cc; print(cc.DRIVER_CC_MAX_EDGES)",
        ],
        env=env,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.split() == [str(want)]
    assert ("is not an integer" in out.stderr) == (value == "5e5")
