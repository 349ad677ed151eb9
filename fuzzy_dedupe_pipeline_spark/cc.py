"""Connected components over the verified-pair edge set.

Replaces the reference's in-memory BFS (dedupe_logic/processor.py:206-228)
with iterative min-label propagation *plus pointer jumping* in pure DataFrame
joins:

  propagate:  label(v) <- min(label(v), min over neighbors u of label(u))
  jump:       label(v) <- label(label(v))

repeated to convergence. Propagation alone needs O(component diameter)
rounds; the jump step composes the label pointers (label(v) is always a node
in v's component with a <= label, so following it never crosses components
and never increases), giving O(log diameter) rounds — a 10^6-node chain
converges in ~20 rounds instead of 10^6. Each round is two equi-joins + one
groupBy-min — all map-side-combinable shuffles Catalyst plans with AQE.
`localCheckpoint` after every round truncates the lineage so plan size stays
constant. The label space is the id itself (min id wins), matching the
deterministic cluster_id definition used by the oracle.

Non-convergence is LOUD: if the label fixpoint is not reached within
max_iters rounds the function raises instead of silently emitting wrong
labels (a capped run would split clusters with no error signal otherwise).

Driver-side loop is unavoidable (Catalyst has no fixpoint operator); per-round
work is fully distributed — only the convergence *count* comes to the driver.

Cluster note: localCheckpoint blocks live in executor memory/disk and are
lost on executor death; pass checkpoint_dir (DedupeConfig.checkpoint_dir
wires it through every caller) to use reliable checkpoints on HDFS/S3
instead, trading one distributed write per round for executor-loss recovery.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType


def _env_edges(name: str, default: int) -> int:
    """A malformed override must not break the import: warn, keep default."""
    raw = os.environ.get(name, "").strip()
    if not raw:
        return default
    try:
        return int(raw)
    except ValueError:
        warnings.warn(f"{name}={raw!r} is not an integer; using {default}")
        return default


# Edge sets at or below this size take the driver union-find fast path (see
# connected_components docstring); 0 disables it. At the default 500k edges
# the collected rows are ~tens of MB — the same bounded-driver-collect class
# as the IVF centroid fit (similarity.py) and the streaming bucket lists —
# and the returned relation is one row per NODE, far smaller still. The
# break-even is where collect throughput (~1 s per few-hundred-k rows)
# approaches the distributed fixpoint's ~0.6 s/round driver-serial floor.
DRIVER_CC_MAX_EDGES = _env_edges("SPARK_GRAFT_CC_DRIVER_EDGES", 500_000)


def connected_components(
    edges: DataFrame,
    max_iters: int = 50,
    checkpoint_dir: str | None = None,
    driver_max_edges: int | None = None,
) -> DataFrame:
    """edges: (id1, id2) undirected (any orientation). Returns
    (id, cluster_id) for every id that appears in an edge; cluster_id = min id
    of its component. Callers attach singletons via left join + coalesce.

    checkpoint_dir: when set (HDFS/S3/local path), per-round lineage
    truncation uses RELIABLE checkpoints into that dir instead of
    localCheckpoint — localCheckpoint blocks live in executor memory/disk
    and die with the executor, so on a real multi-executor cluster an
    executor loss mid-CC would fail the job unrecoverably. Costs one
    distributed write per round (wired from DedupeConfig.checkpoint_dir).

    Raises RuntimeError if labels have not converged after max_iters rounds
    (each round shrinks the worst unconverged chain by >2x, so the default 50
    covers any component with diameter < 2^50 — hitting the cap means
    something is broken, and silent wrong labels are never acceptable).

    driver_max_edges (default: env SPARK_GRAFT_CC_DRIVER_EDGES, 500k): edge
    sets at or below this size are solved by union-find ON THE DRIVER — the
    materialized symmetrized edge table (already checkpointed + counted for
    the shuffle-width/step gates) is collected once (a few MB at the cap,
    the same bounded-collect class as the IVF centroid fit) and the labels
    come back as a local relation. The wall cost of the distributed fixpoint
    on a small graph is pure driver-serial job latency (~0.6 s/round
    regardless of data size), so a 42k-edge graph pays ~3 s for work the
    driver does in milliseconds; a web-scale edge set exceeds the cap and
    keeps the full distributed loop untouched. Labels are EXACTLY the
    distributed result: cluster_id = min member id, where Python's str/int
    ordering equals Spark's binary UTF8String / numeric comparison
    (UTF-8 byte order is code-point order), asserted cross-path by
    test_driver_path_matches_distributed. Pass 0 to force the distributed
    loop (the non-convergence guard and per-round checkpoint semantics only
    exist there).
    """
    if driver_max_edges is None:
        driver_max_edges = DRIVER_CC_MAX_EDGES
    spark = edges.sparkSession
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)
        _ckpt = lambda df: df.checkpoint(eager=True)  # noqa: E731

        # Reliable checkpoints are FILES that nothing deletes by default
        # (spark.cleaner.referenceTracking.cleanCheckpoints only cleans after
        # driver GC, which may never run mid-stream) — in streaming this runs
        # per micro-batch, so without explicit cleanup the dir grows without
        # bound. Each round's labels checkpoint is dead the moment the next
        # round's materializes; we resolve the EXACT rdd-N dir backing each
        # checkpointed DataFrame (its analyzed plan is a LogicalRDD over a
        # ReliableCheckpointRDD) and delete only that — diffing the context's
        # shared checkpoint dir would also capture (and destroy) checkpoints
        # a concurrent job on the same SparkContext wrote between listings.
        from fuzzy_dedupe_pipeline_spark.fs import fs_delete

        def _ckpt_file(df: DataFrame) -> str | None:
            """The checkpoint dir of df's backing RDD; None if unresolvable
            (unexpected plan shape) — then the file is simply left for the
            GC-based cleaner instead of risking a wrong delete."""
            try:
                opt = (
                    df._jdf.queryExecution().analyzed().rdd().getCheckpointFile()
                )
                return opt.get() if opt.isDefined() else None
            except Exception:
                return None

    else:
        _ckpt = lambda df: df.localCheckpoint()  # noqa: E731
        _ckpt_file = lambda df: None  # noqa: E731
        fs_delete = None

    sym = edges.select(
        F.col("id1").alias("src"), F.col("id2").alias("dst")
    ).union(edges.select(F.col("id2").alias("src"), F.col("id1").alias("dst")))
    sym = _ckpt(sym.dropDuplicates(["src", "dst"]))

    # Scale-adaptive shuffle width for the fixpoint rounds (guide §2): each
    # round is 3-4 shuffles over the label table, and the edge set after
    # exact-dedup + banding is typically TINY relative to the corpus (tens
    # of kB..MB). At the session default (= core count) every round pays
    # scheduling/barrier cost for dozens of near-empty tasks — measured
    # 0.55 s/round for 42k edges at 32 partitions, pure overhead. Width is
    # derived from the MATERIALIZED edge count (sym is already
    # checkpointed, so the count is a cheap scan), one partition per ~100k
    # edges, capped at the session default so a web-scale edge set keeps
    # full parallelism. Pinned via the session conf around the loop — CC
    # runs serially in every caller (dedupe_clusters runs it after its
    # thread-pooled builds complete; streaming per micro-batch), and the
    # conf is restored in a finally.
    spark_conf = spark.conf
    n_edges = sym.count()
    if driver_max_edges > 0 and n_edges <= driver_max_edges:
        return _driver_union_find(spark, sym, edges.schema[0].dataType)
    default_p = spark.sparkContext.defaultParallelism
    p = max(1, min(default_p, (n_edges // 100_000) + 1))
    old_p = spark_conf.get("spark.sql.shuffle.partitions")
    spark_conf.set("spark.sql.shuffle.partitions", str(p))
    # (A/B'd r6: AQE stays ON here — its per-query-stage jobs looked like
    # overhead in the profile, but disabling it measured 7.0s vs 3.8s for
    # the 42k-edge fixpoint: the independent stage jobs pipeline better
    # than one monolithic job per checkpoint.)
    # steps-per-round is edge-count-adaptive (A/B'd at both ends): for the
    # 42k-edge semantic set the double step nearly halves the driver-serial
    # round count (5.9 -> 3.8 s), but for a tiny graph (240 edges, 1-2
    # rounds) the 2x-deeper checkpointed plan costs MORE than the saved
    # jobs (1.47 -> 1.83 s measured) — small sets take single steps.
    steps = 2 if n_edges > 10_000 else 1
    try:
        return _cc_loop(
            spark, sym, max_iters, _ckpt, _ckpt_file, fs_delete, steps
        )
    finally:
        spark_conf.set("spark.sql.shuffle.partitions", old_p)


def _driver_union_find(spark, sym, id_type) -> DataFrame:
    """Exact small-graph path: collect the (bounded, checkpointed)
    symmetrized edges, union-find with path compression, label every node
    with the MIN member id of its component (same ordering as the
    distributed min-label fixpoint — Python str/int comparison coincides
    with Spark's binary/numeric ordering). Returns a local relation with the
    edge id dtype, so downstream joins broadcast it. NULL ids (excluded by
    contract upstream) fail loudly in min() rather than silently labeling."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in sym.select("src", "dst").collect():
        a, b = row[0], row[1]
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # roots are min ids already: unions always attach the larger root under
    # the smaller, so every root is the min id of its component
    rows = [(node, find(node)) for node in parent]
    schema = StructType(
        [StructField("id", id_type, True), StructField("cluster_id", id_type, True)]
    )
    # the local relation reports no stats (defaultSizeInBytes), so without a
    # hint every downstream labels join plans sort-merge and SHUFFLES the
    # corpus side; the label table is bounded by 2*driver_max_edges rows
    # (tens of MB worst case) — exactly what broadcast is for
    return F.broadcast(spark.createDataFrame(rows, schema))


def _cc_loop(spark, sym, max_iters, _ckpt, _ckpt_file, fs_delete, steps=2):
    labels = _ckpt(
        sym.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("cluster_id"))
    )
    prev_label_file = _ckpt_file(labels)

    for _ in range(max_iters):
        # TWO propagate+jump steps per materialized round (r6): the wall
        # cost of a round is dominated by driver-serial job latency (the
        # checkpoint job + the convergence probe, ~0.3 s each on this host
        # regardless of data size), not by the shuffles — so composing two
        # steps into one checkpointed plan halves the job count for the
        # same asymptotics. Convergence stays sound: labels are min-monotone
        # (never increase), so "no change across the double step" implies
        # neither inner step changed anything — the fixpoint test is exact.
        cur = labels
        for _step in range(steps):
            neighbor_min = (
                sym.join(cur, sym.dst == cur.id)
                .select(F.col("src").alias("id"), "cluster_id")
                .union(cur.select("id", "cluster_id"))
                .groupBy("id")
                .agg(F.min("cluster_id").alias("cluster_id"))
            )
            # pointer jump: label <- label(label). Every label value is
            # itself a node id with a labels row, and its label is <=
            # (min-monotone), so this squares the pointer chain without
            # changing the fixpoint.
            parent = neighbor_min.select(
                F.col("id").alias("p_id"), F.col("cluster_id").alias("p_label")
            )
            cur = neighbor_min.join(
                parent, neighbor_min.cluster_id == parent.p_id, "left"
            ).select(
                "id", F.coalesce("p_label", "cluster_id").alias("cluster_id")
            )
        # fuse the convergence signal into the SAME checkpoint job (one extra
        # join against the already-checkpointed old labels) — a separate
        # count-join job per round doubled the driver-serial job count, the
        # dominant non-scaling cost in the flagship profile
        new_labels = _ckpt(
            cur.join(
                labels.select("id", F.col("cluster_id").alias("old_label")),
                "id",
            )
            .select(
                "id",
                "cluster_id",
                (F.col("cluster_id") != F.col("old_label")).alias("changed"),
            )
        )
        # scanning checkpointed blocks for the first changed row is a trivial
        # job (no shuffle, early exit)
        changed = new_labels.filter("changed").limit(1).count()
        labels = new_labels.select("id", "cluster_id")
        # previous round's labels checkpoint is superseded — delete its files
        # (new_labels is materialized; nothing references the old RDD's data)
        if fs_delete is not None:
            if prev_label_file is not None:
                fs_delete(spark, prev_label_file, recursive=True)
            prev_label_file = _ckpt_file(new_labels)
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge within {max_iters} rounds — "
        "labels would be WRONG (clusters split). Raise max_iters / "
        "cfg.cc_max_iters; with pointer jumping rounds grow as "
        "log2(component diameter), so this signals pathological input."
    )


def attach_singletons(all_ids: DataFrame, labels: DataFrame) -> DataFrame:
    """all_ids: (id). Every id gets a cluster_id; ids with no edges label
    themselves (reference: singletons are their own cluster,
    dedupe_logic/processor.py:211-228)."""
    return all_ids.join(labels, "id", "left").select(
        "id", F.coalesce("cluster_id", "id").alias("cluster_id")
    )
