"""Incremental (Structured Streaming) dedup: order-independence vs batch.

The invariant: after draining a stream of page dumps, the label store's
partition of docs into clusters equals the batch pipeline's partition over
the same corpus at the same config (substring pass off — the streaming path
generates candidates via LSH only). Labels are min-id on both sides, so we
can compare (id, cluster_id) sets directly.
"""

from __future__ import annotations

import pytest
from conftest import executed_plan, node_name, plan_nodes
from pyspark.sql import functions as F

from fuzzy_dedupe_pipeline_spark.config import DedupeConfig
from fuzzy_dedupe_pipeline_spark.dataflow import (
    clean_docs,
    dedupe_clusters,
)
from fuzzy_dedupe_pipeline_spark.streaming import IncrementalDedupe

CFG = DedupeConfig()


@pytest.fixture(scope="module")
def stream_dirs(tmp_path_factory):
    root = tmp_path_factory.mktemp("stream")
    return {
        "input": str(root / "input"),
        "state": str(root / "state"),
        "out": str(root / "out"),
        "ckpt": str(root / "ckpt"),
    }


def _batch_labels(spark, pages_df):
    out = dedupe_clusters(
        spark, pages_df, CFG, id_col="url", text_col="text", with_substring=False
    )
    return {r["url"]: r["cluster_id"] for r in out.collect()}


def test_stream_matches_batch(spark, pages_df, stream_dirs):
    # three dump files -> three micro-batches (maxFilesPerTrigger=1)
    n = pages_df.count()
    pages = pages_df.withColumn(
        "part", (F.xxhash64("url") % 3 + 3) % 3
    )
    for i in range(3):
        (
            pages.filter(F.col("part") == i)
            .drop("part")
            .coalesce(1)
            .write.mode("append")
            .parquet(stream_dirs["input"])
        )

    inc = IncrementalDedupe(spark, stream_dirs["state"], CFG)
    q = inc.run_stream(
        stream_dirs["input"],
        pages_df.schema,
        stream_dirs["out"],
        stream_dirs["ckpt"],
        id_col="url",
        text_col="text",
        max_files_per_trigger=1,
        available_now=True,
    )
    q.awaitTermination(600)

    assignments = spark.read.parquet(stream_dirs["out"])
    assert assignments.count() == n
    assert assignments.select("id").distinct().count() == n
    assert assignments.select("batch_id").distinct().count() >= 2

    # final state labels = the authoritative incremental clustering
    labels = spark.read.parquet(f"{inc.labels_path}")
    got = {r["id"]: r["cluster_id"] for r in labels.collect()}
    want = _batch_labels(spark, pages_df)
    assert set(got) == set(want)
    mismatches = {k: (got[k], want[k]) for k in want if got[k] != want[k]}
    assert not mismatches, f"{len(mismatches)} label mismatches: {list(mismatches.items())[:5]}"


def test_stream_merges_clusters_across_batches(spark, stream_dirs, tmp_path):
    """A later doc bridging two earlier singleton docs must merge them in the
    label store (the remap path)."""
    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango "
        "uniform victor whiskey xray yankee zulu one two three four "
    ) * 4
    rows_a = [("u:a", base + "ending aaa")]
    rows_b = [("u:b", base + "ending bbb")]
    schema = "url string, text string"
    d = str(tmp_path / "in2")
    spark.createDataFrame(rows_a, schema).coalesce(1).write.mode("append").parquet(d)
    spark.createDataFrame(rows_b, schema).coalesce(1).write.mode("append").parquet(d)

    inc = IncrementalDedupe(spark, str(tmp_path / "state2"), CFG)
    q = inc.run_stream(
        d,
        spark.read.parquet(d).schema,
        str(tmp_path / "out2"),
        str(tmp_path / "ckpt2"),
        id_col="url",
        text_col="text",
        max_files_per_trigger=1,
        available_now=True,
    )
    q.awaitTermination(300)

    labels = spark.read.parquet(inc.labels_path)
    got = {r["id"]: r["cluster_id"] for r in labels.collect()}
    assert got["u:a"] == got["u:b"] == "u:a"


def test_stream_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: reprocessing a committed batch must not
    duplicate sigs/bands rows, must not change labels, and must re-emit the
    same output rows."""
    rows = [
        ("u:x", "the quick brown fox jumps over the lazy dog " * 20),
        ("u:y", "completely different text about other things entirely " * 20),
    ]
    df = spark.createDataFrame(rows, "url string, text string")
    inc = IncrementalDedupe(spark, str(tmp_path / "state_r"), CFG)

    out1 = inc.process_batch(df, batch_id=0).collect()
    sigs_n1 = spark.read.parquet(inc.sigs_path).count()
    labels1 = sorted(
        (r["id"], r["cluster_id"])
        for r in spark.read.parquet(inc.labels_path).collect()
    )

    out2 = inc.process_batch(df, batch_id=0).collect()  # replay
    sigs_n2 = spark.read.parquet(inc.sigs_path).count()
    labels2 = sorted(
        (r["id"], r["cluster_id"])
        for r in spark.read.parquet(inc.labels_path).collect()
    )
    assert sigs_n1 == sigs_n2 == 2
    assert labels1 == labels2
    assert sorted((r["id"], r["cluster_id"]) for r in out1) == sorted(
        (r["id"], r["cluster_id"]) for r in out2
    )


def test_stream_crash_replay_converges(spark, tmp_path):
    """Replay after a crash BEFORE the commit marker (state writes may have
    landed) must converge to the same state as a clean run."""
    rows = [("u:c1", "alpha beta gamma delta epsilon zeta eta theta " * 20)]
    df = spark.createDataFrame(rows, "url string, text string")
    inc = IncrementalDedupe(spark, str(tmp_path / "state_c"), CFG)
    inc.process_batch(df, batch_id=0)
    # batch 1 "crashed" right before the marker: simulate by processing then
    # deleting the marker
    rows2 = [("u:c2", "one two three four five six seven eight nine ten " * 20)]
    df2 = spark.createDataFrame(rows2, "url string, text string")
    inc.process_batch(df2, batch_id=1)
    import os

    os.remove(f"{inc.commits_path}/batch_1")
    inc.process_batch(df2, batch_id=1)  # replay from scratch
    sigs = spark.read.parquet(inc.sigs_path)
    assert sigs.count() == 2  # no duplicate rows for u:c2
    labels = {
        r["id"]: r["cluster_id"]
        for r in spark.read.parquet(inc.labels_path).collect()
    }
    assert labels == {"u:c1": "u:c1", "u:c2": "u:c2"}


def test_stream_reseen_id_first_wins(spark, tmp_path):
    """A re-crawled url in a later batch must NOT re-enter the index (no
    self-pairs, no conflicting label rows) — first-seen text wins."""
    text = "shared boilerplate tokens " * 30
    b0 = spark.createDataFrame([("u:r", text)], "url string, text string")
    b1 = spark.createDataFrame(
        [("u:r", text + "updated"), ("u:s", "unrelated fresh page words " * 25)],
        "url string, text string",
    )
    inc = IncrementalDedupe(spark, str(tmp_path / "state_s"), CFG)
    inc.process_batch(b0, batch_id=0)
    out = inc.process_batch(b1, batch_id=1)
    # output covers only first-seen ids of the batch
    assert {r["id"] for r in out.collect()} == {"u:s"}
    labels = spark.read.parquet(inc.labels_path)
    by_id = labels.groupBy("id").count().filter("count > 1").count()
    assert by_id == 0  # exactly one label row per id
    sigs = spark.read.parquet(inc.sigs_path)
    assert sigs.filter(F.col("id") == "u:r").count() == 1


def test_stream_replay_with_reseen_id_is_idempotent(spark, tmp_path):
    """Replay of a COMMITTED batch containing a re-seen id must re-emit
    exactly the rows the original execution emitted (the first-seen-wins
    filter drops the re-seen id before signing; the committed-replay branch
    must apply the same restriction by reading the batch's own sigs
    partition, not join all clean ids against stored labels)."""
    text = "shared boilerplate tokens " * 30
    b0 = spark.createDataFrame([("u:r", text)], "url string, text string")
    b1 = spark.createDataFrame(
        [("u:r", text + "updated"), ("u:s", "unrelated fresh page words " * 25)],
        "url string, text string",
    )
    inc = IncrementalDedupe(spark, str(tmp_path / "state_rr"), CFG)
    inc.process_batch(b0, batch_id=0)
    out1 = sorted(
        (r["id"], r["cluster_id"])
        for r in inc.process_batch(b1, batch_id=1).collect()
    )
    out2 = sorted(
        (r["id"], r["cluster_id"])
        for r in inc.process_batch(b1, batch_id=1).collect()  # replay
    )
    assert out1 == out2 == [("u:s", "u:s")]


def test_stream_state_compaction_bounds_partitions(spark, tmp_path):
    """After many micro-batches, compact_state() must collapse all but the
    newest committed partition into the batch_id=-1 sentinel, preserve the
    index contents (a later near-dup batch still matches compacted history),
    and keep replay of the newest batch working."""
    import os

    base = "zebra yak xylophone walrus vulture tiger snake rabbit quail pig " * 12
    inc = IncrementalDedupe(spark, str(tmp_path / "state_cmp"), CFG)
    for b in range(5):
        df = spark.createDataFrame(
            [(f"u:{b}", base + f"tail {b}" if b < 2 else f"distinct page {b} " * 30)],
            "url string, text string",
        )
        inc.process_batch(df, batch_id=b)

    def batch_dirs(path):
        return sorted(
            d for d in os.listdir(path) if d.startswith("batch_id=")
        )

    assert len(batch_dirs(inc.sigs_path)) == 5
    pre_sigs = spark.read.parquet(inc.sigs_path).select("id")
    pre_ids = {r["id"] for r in pre_sigs.collect()}

    merged = inc.compact_state()
    assert merged == 4  # batches 0-3 merged; newest (4) kept for replay
    assert batch_dirs(inc.sigs_path) == ["batch_id=-1", "batch_id=4"]
    assert batch_dirs(inc.bands_path) == ["batch_id=-1", "batch_id=4"]
    post_ids = {r["id"] for r in spark.read.parquet(inc.sigs_path).collect()}
    assert post_ids == pre_ids

    # replay of the newest committed batch still emits its rows
    df4 = spark.createDataFrame(
        [("u:4", "distinct page 4 " * 30)], "url string, text string"
    )
    out = inc.process_batch(df4, batch_id=4)
    assert {r["id"] for r in out.collect()} == {"u:4"}

    # a new batch near-dup of COMPACTED batch-0 text must still cluster with it
    df5 = spark.createDataFrame(
        [("u:new", base + "tail zz")], "url string, text string"
    )
    inc.process_batch(df5, batch_id=5)
    labels = {
        r["id"]: r["cluster_id"]
        for r in spark.read.parquet(inc.labels_path).collect()
    }
    assert labels["u:new"] == labels["u:0"]

    # second compaction folds batch 4 + the sentinel + batch 5's predecessor set
    inc.compact_state()
    assert batch_dirs(inc.sigs_path) == ["batch_id=-1", "batch_id=5"]


def test_compaction_watermark_clamped_to_committed(spark, tmp_path):
    """compact_state(watermark=above newest committed) must NOT fold the
    newest committed partition into the sentinel — a later at-least-once
    replay of that batch reads sigs/batch_id=N directly and would die on
    path-not-found."""
    import os

    inc = IncrementalDedupe(spark, str(tmp_path / "state_wm"), CFG)
    for b in range(3):
        df = spark.createDataFrame(
            [(f"u:{b}", f"wholly separate page number {b} " * 25)],
            "url string, text string",
        )
        inc.process_batch(df, batch_id=b)

    inc.compact_state(watermark=999)  # clamped to max(committed) == 2
    dirs = sorted(
        d for d in os.listdir(inc.sigs_path) if d.startswith("batch_id=")
    )
    assert dirs == ["batch_id=-1", "batch_id=2"]
    # replay of the newest committed batch still works
    df2 = spark.createDataFrame(
        [("u:2", "wholly separate page number 2 " * 25)], "url string, text string"
    )
    out = inc.process_batch(df2, batch_id=2)
    assert {r["id"] for r in out.collect()} == {"u:2"}


def test_stream_compaction_crash_recovery(spark, tmp_path):
    """A crash between the compaction marker write and the staging rename is
    finished by the next process_batch (marker protocol)."""
    import os
    import shutil

    inc = IncrementalDedupe(spark, str(tmp_path / "state_crash"), CFG)
    for b in range(3):
        df = spark.createDataFrame(
            [(f"u:{b}", f"wholly distinct page number {b} " * 25)],
            "url string, text string",
        )
        inc.process_batch(df, batch_id=b)

    # run compaction steps 1-2 by hand, then "crash" before steps 3-5
    ids = [
        b
        for b in inc._list_batch_parts(spark, inc.sigs_path)
        if b < 2
    ]
    staging = f"{inc.state_dir}/.compact/sigs"
    (
        spark.read.option("basePath", inc.sigs_path)
        .parquet(*[f"{inc.sigs_path}/batch_id={b}" for b in ids])
        .drop("batch_id")
        .repartition(F.col("bucket"))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(staging)
    )
    os.makedirs(f"{inc.state_dir}/.compact", exist_ok=True)
    with open(inc._compact_marker("sigs"), "w") as f:
        f.write("\n".join(map(str, ids)))

    # next batch triggers recovery first
    df = spark.createDataFrame(
        [("u:3", "another wholly distinct page " * 25)], "url string, text string"
    )
    inc.process_batch(df, batch_id=3)
    dirs = sorted(
        d for d in os.listdir(inc.sigs_path) if d.startswith("batch_id=")
    )
    assert dirs == ["batch_id=-1", "batch_id=2", "batch_id=3"]
    assert not os.path.exists(inc._compact_marker("sigs"))
    ids_now = {r["id"] for r in spark.read.parquet(inc.sigs_path).select("id").collect()}
    assert ids_now == {"u:0", "u:1", "u:2", "u:3"}


def test_stream_label_reads_are_bucket_pruned(spark, tmp_path, monkeypatch):
    """The O(batch) contract: every label read in a micro-batch goes through
    the pruned reader with an explicit bucket list (never a full-store scan),
    and the pruned read's physical plan carries a bucket partition filter."""
    from fuzzy_dedupe_pipeline_spark import streaming as st

    base = (
        "quantum raven sunset meadow glacier ember willow thunder canyon "
        "harbor falcon prairie summit lantern compass "
    ) * 8
    rows0 = [(f"u:{i:02d}", f"wholly distinct page number {i} content " * 20) for i in range(12)]
    rows0.append(("u:base", base + "ending one"))
    b0 = spark.createDataFrame(rows0, "url string, text string")
    b1 = spark.createDataFrame(
        [("u:zz-new", base + "ending two")], "url string, text string"
    )
    inc = IncrementalDedupe(
        spark, str(tmp_path / "state_pr"), CFG, n_label_buckets=16
    )
    inc.process_batch(b0, batch_id=0)

    calls: list = []
    orig = st.IncrementalDedupe._read_labels

    def spy(self, spark_, buckets):
        calls.append(buckets)
        return orig(self, spark_, buckets)

    monkeypatch.setattr(st.IncrementalDedupe, "_read_labels", spy)
    inc.process_batch(b1, batch_id=1)
    assert calls, "label reads did not go through the pruned reader"
    assert all(b is not None for b in calls), f"full-store label scan: {calls}"
    assert all(len(b) < 16 for b in calls), f"unpruned bucket lists: {calls}"

    # the pruned read's plan prunes at the partition level
    df = inc._read_labels(spark, [0, 1])
    plan = df._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "bucket" in pf

    # and the result is still correct: the near-dup clustered with its twin
    labels = {
        r["id"]: r["cluster_id"]
        for r in spark.read.parquet(inc.labels_path).collect()
    }
    assert labels["u:zz-new"] == labels["u:base"]


def test_crash_replay_bloom_positive_ids_not_dropped(spark, tmp_path):
    """A crashed attempt writes the batch's label rows before the marker; on
    replay the seen-id probe must not count those rows as 'already seen' —
    otherwise the batch's docs are never re-signed and their output rows are
    silently lost. A SATURATED 8-bit Bloom (40 ids x 5 probes; saturation
    asserted below) makes every id Bloom-positive, forcing the label-confirm
    path that a real false positive would take; the fix anti-joins ids from
    the batch's own sigs partition out of the seen set. n_label_buckets=1
    collapses the sharded sidecar to ONE shard, so the whole filter is the
    8 bits being saturated."""
    import os

    inc = IncrementalDedupe(
        spark,
        str(tmp_path / "state_bp"),
        CFG,
        bloom_bits=8,
        n_label_buckets=1,
    )
    b0 = spark.createDataFrame(
        [(f"u:fill{i}", f"filler page number {i} with its own words " * 20)
         for i in range(40)],
        "url string, text string",
    )
    inc.process_batch(b0, batch_id=0)
    # precondition: the sidecar is saturated, so ANY id is Bloom-positive
    bits = spark.read.parquet(f"{inc.bloom_path}/batch_id=0").collect()
    assert bytes(bits[0]["bits"]) == b"\xff"
    b1 = spark.createDataFrame(
        [("u:new", "a genuinely fresh page of novel words " * 20)],
        "url string, text string",
    )
    inc.process_batch(b1, batch_id=1)
    os.remove(f"{inc.commits_path}/batch_1")  # crash before the marker
    out = inc.process_batch(b1, batch_id=1)  # replay
    assert {r["id"] for r in out.collect()} == {"u:new"}
    labels = spark.read.parquet(inc.labels_path)
    assert labels.filter(F.col("id") == "u:new").count() == 1


def test_crash_replay_legacy_probe_ids_not_dropped(spark, tmp_path):
    """Same hazard on a store WITHOUT the bloom sidecar (the conservative
    full-label probe): the crashed attempt's label rows must not drop the
    replayed batch's ids."""
    import os
    import shutil

    inc = IncrementalDedupe(spark, str(tmp_path / "state_lp"), CFG)
    b0 = spark.createDataFrame(
        [("u:a", "first page entirely its own words " * 20)],
        "url string, text string",
    )
    inc.process_batch(b0, batch_id=0)
    b1 = spark.createDataFrame(
        [("u:b", "second page with different content " * 20)],
        "url string, text string",
    )
    inc.process_batch(b1, batch_id=1)
    os.remove(f"{inc.commits_path}/batch_1")  # crash before the marker
    shutil.rmtree(inc.bloom_path)  # legacy store: no sidecar
    out = inc.process_batch(b1, batch_id=1)  # replay
    assert {r["id"] for r in out.collect()} == {"u:b"}
    labels = spark.read.parquet(inc.labels_path)
    assert labels.filter(F.col("id") == "u:b").count() == 1

    # the replay rebuilt a bloom row for batch 1 ONLY — an INCOMPLETE sidecar
    # (batch 0's ids absent). Trusting it would pass re-seen u:a as
    # Bloom-negative = "definitively fresh" and re-enter it into the index;
    # _load_bloom must detect the sigs/bloom partition mismatch and fall
    # back to the full-label probe.
    b2 = spark.createDataFrame(
        [("u:a", "first page entirely its own words " * 20)],
        "url string, text string",
    )
    out2 = inc.process_batch(b2, batch_id=2)
    assert out2.count() == 0  # re-seen id dropped, first-seen wins
    sigs = spark.read.parquet(inc.sigs_path)
    assert sigs.filter(F.col("id") == "u:a").count() == 1

    # compaction must not LAUNDER the gap (merging the partial bloom into a
    # sentinel would make its partition list match sigs' and slip past the
    # completeness check while batch 0's ids are absent) — it must FILL it:
    # _backfill_bloom rebuilds the missing partitions' shards from the
    # authoritative sigs ids before merging, so after compaction the sidecar
    # is complete and correct, and re-seen u:b must STILL be dropped.
    b3 = spark.createDataFrame(
        [("u:c", "third page bringing yet more novel words " * 20)],
        "url string, text string",
    )
    inc.process_batch(b3, batch_id=3)
    inc.compact_state()
    b4 = spark.createDataFrame(
        [("u:b", "second page with different content " * 20)],
        "url string, text string",
    )
    out4 = inc.process_batch(b4, batch_id=4)
    assert out4.count() == 0
    sigs = spark.read.parquet(inc.sigs_path)
    assert sigs.filter(F.col("id") == "u:b").count() == 1


def test_crash_replay_no_duplicate_label_rows(spark, tmp_path):
    """A crash after the LABEL write but before the commit marker leaves the
    batch's rows in the store; the replay must not duplicate them (the fresh
    assignment wins exactly once)."""
    import os

    inc = IncrementalDedupe(spark, str(tmp_path / "state_dup"), CFG)
    b0 = spark.createDataFrame(
        [("u:a", "first page entirely its own words " * 20)],
        "url string, text string",
    )
    inc.process_batch(b0, batch_id=0)
    b1 = spark.createDataFrame(
        [("u:b", "second page with different content " * 20)],
        "url string, text string",
    )
    inc.process_batch(b1, batch_id=1)
    os.remove(f"{inc.commits_path}/batch_1")  # crash before the marker
    inc.process_batch(b1, batch_id=1)  # replay
    labels = spark.read.parquet(inc.labels_path)
    dup_ids = labels.groupBy("id").count().filter("count > 1").count()
    assert dup_ids == 0
    assert labels.count() == 2


def test_run_stream_auto_compacts(spark, tmp_path):
    """A long-lived stream self-bounds its state: run_stream(compact_every=2)
    over six single-file micro-batches must end with only the sentinel + the
    newest committed partition per state table, with all labels intact."""
    import os

    indir = str(tmp_path / "ac_in")
    schema = "url string, text string"
    for b in range(6):
        (
            spark.createDataFrame(
                [(f"u:{b}", f"independent page about topic {b} " * 25)], schema
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(indir)
        )
    inc = IncrementalDedupe(spark, str(tmp_path / "ac_state"), CFG)
    q = inc.run_stream(
        indir,
        spark.read.parquet(indir).schema,
        str(tmp_path / "ac_out"),
        str(tmp_path / "ac_ckpt"),
        max_files_per_trigger=1,
        available_now=True,
        compact_every=2,
    )
    q.awaitTermination(600)

    def batch_dirs(path):
        return sorted(d for d in os.listdir(path) if d.startswith("batch_id="))

    assert batch_dirs(inc.sigs_path) == ["batch_id=-1", "batch_id=5"]
    assert batch_dirs(inc.bands_path) == ["batch_id=-1", "batch_id=5"]
    labels = spark.read.parquet(inc.labels_path)
    assert labels.select("id").distinct().count() == 6
    assert labels.count() == 6


def test_streaming_windowed_agg_matches_batch(spark, tmp_path):
    """readStream + event-time window agg (the Structured Streaming shape of
    tumbling_window_agg) drained with availableNow == the batch result."""
    src = "/root/testdata/sf0.001/events.parquet"
    # watermarks need TIMESTAMP (LTZ); the table stores TIMESTAMP_NTZ.
    # session TZ is UTC so the cast is value-preserving.
    events = spark.read.parquet(src).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    agg = lambda df: (
        df.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
    )
    want = {(r["ws"], r["event_type"]): r["n"] for r in agg(events).collect()}

    indir = str(tmp_path / "ev_in")
    events.repartition(3).write.mode("overwrite").parquet(indir)
    stream = spark.readStream.schema(events.schema).parquet(indir)
    q = (
        agg(stream.withWatermark("ts", "1 hour"))
        .writeStream.format("memory")
        .queryName("win_agg")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["ws"], r["event_type"]): r["n"]
        for r in spark.sql("SELECT * FROM win_agg").collect()
    }
    assert got == want


def test_crash_replay_does_not_split_intra_batch_cluster(spark, tmp_path):
    """Round-4 ADVICE: a crash between the labels write and the commit marker
    leaves this batch's OWN label rows in the store; the replay's
    edge-endpoint rewrite (labels_lookup) must not route intra-batch edges
    through those stale rows — stale a->a, b->a would collapse edge (a,b) to
    (a,a), CC would drop b, and the duplicate-row anti-join would then commit
    the split (b->b). n_label_buckets=1 forces the crashed attempt's rows
    into the ep_buckets label read, the exact hazard window."""
    import os

    base = (
        "quantum raven sunset meadow glacier ember willow thunder canyon "
        "harbor falcon prairie summit lantern compass "
    ) * 8
    inc = IncrementalDedupe(
        spark, str(tmp_path / "state_split"), CFG, n_label_buckets=1
    )
    b0 = spark.createDataFrame(
        [("u:old", base + "origin")], "url string, text string"
    )
    inc.process_batch(b0, batch_id=0)
    # batch 1: an intra-batch near-dup pair + a bridge to the stored doc so
    # the replay has cross candidates (nonempty ep_buckets)
    b1 = spark.createDataFrame(
        [
            ("u:x-a", base + "variant one"),
            ("u:x-b", base + "variant one two"),
            ("u:bridge", base + "origin plus"),
        ],
        "url string, text string",
    )
    inc.process_batch(b1, batch_id=1)
    want = {
        r["id"]: r["cluster_id"]
        for r in spark.read.parquet(inc.labels_path).collect()
    }
    assert want["u:x-a"] == want["u:x-b"]  # precondition: the pair verifies
    os.remove(f"{inc.commits_path}/batch_1")  # crash before the marker
    inc.process_batch(b1, batch_id=1)  # replay
    got = {
        r["id"]: r["cluster_id"]
        for r in spark.read.parquet(inc.labels_path).collect()
    }
    assert got == want, f"replay diverged: {got} != {want}"


def test_legacy_flat_sigs_store_keeps_running(spark, tmp_path):
    """Round-4 ADVICE: a store written before sigs/bands were hash-bucketed
    holds flat batch_id=N/ files; a stateful batch on top of it must not
    crash on mixed-depth partition discovery, near-dups must still match the
    legacy history, and compaction must migrate the flat rows into the
    bucketed sentinel."""
    import os
    import shutil

    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango "
    ) * 6
    inc = IncrementalDedupe(spark, str(tmp_path / "state_legacy"), CFG)
    b0 = spark.createDataFrame(
        [("u:old", base + "ending one")], "url string, text string"
    )
    inc.process_batch(b0, batch_id=0)
    # rewrite batch 0's sigs + bands partitions in the LEGACY flat layout
    # and drop the bloom sidecar entirely (a pre-sidecar store)
    for path, cols in (
        (inc.sigs_path, ["id", "n_tokens", "shingles", "minhash", "simhash"]),
        (inc.bands_path, ["id", "band_id", "band_hash"]),
    ):
        part = f"{path}/batch_id=0"
        tmp = str(tmp_path / "flat_rewrite")
        spark.read.parquet(part).select(*cols).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        shutil.rmtree(part)
        shutil.move(tmp, part)
    shutil.rmtree(inc.bloom_path)

    b1 = spark.createDataFrame(
        [("u:new", base + "ending two"), ("u:old", base + "ending one")],
        "url string, text string",
    )
    out = inc.process_batch(b1, batch_id=1)
    # re-seen id dropped (full-probe fallback), fresh doc matched against
    # the flat legacy band index
    assert {r["id"] for r in out.collect()} == {"u:new"}
    labels = {
        r["id"]: r["cluster_id"]
        for r in spark.read.parquet(inc.labels_path).collect()
    }
    assert labels["u:new"] == labels["u:old"]

    b2 = spark.createDataFrame(
        [("u:c", "wholly different page of words " * 25)],
        "url string, text string",
    )
    inc.process_batch(b2, batch_id=2)
    inc.compact_state()  # merges batches {0 flat, 1 bucketed} -> sentinel
    sent_sigs = os.listdir(f"{inc.sigs_path}/batch_id=-1")
    assert any(n.startswith("bucket=") for n in sent_sigs)
    sent_bands = os.listdir(f"{inc.bands_path}/batch_id=-1")
    assert any(n.startswith("bhbucket=") for n in sent_bands)
    # the backfill rebuilt a complete SHARDED sidecar from sigs ids
    shards = inc._load_bloom(
        spark, exclude_batch=99, buckets=list(range(inc.n_label_buckets))
    )
    assert shards is not None
    # and the migrated store still answers: re-seen legacy id stays dropped,
    # a near-dup of legacy text still clusters with it
    b3 = spark.createDataFrame(
        [("u:old", base + "ending one"), ("u:newer", base + "ending three")],
        "url string, text string",
    )
    out3 = inc.process_batch(b3, batch_id=3)
    assert {r["id"] for r in out3.collect()} == {"u:newer"}
    labels = {
        r["id"]: r["cluster_id"]
        for r in spark.read.parquet(inc.labels_path).collect()
    }
    assert labels["u:newer"] == labels["u:old"]


def test_stream_band_probe_is_bucket_pruned(spark, tmp_path, monkeypatch):
    """The LSH index probe reads ONLY the bhbucket partitions holding the
    micro-batch's own band hashes: the pruned reader gets an explicit bucket
    list strictly smaller than the bucket space (32 band hashes < 64
    buckets), and the bucketed read's plan carries a bhbucket partition
    filter."""
    from fuzzy_dedupe_pipeline_spark import streaming as st

    inc = IncrementalDedupe(spark, str(tmp_path / "state_bands"), CFG)
    b0 = spark.createDataFrame(
        [(f"u:{i}", f"wholly distinct page number {i} content " * 20)
         for i in range(6)],
        "url string, text string",
    )
    inc.process_batch(b0, batch_id=0)

    calls: list = []
    orig = st.IncrementalDedupe._read_bands_old

    def spy(self, spark_, batch_id, bh_buckets):
        calls.append(bh_buckets)
        return orig(self, spark_, batch_id, bh_buckets)

    monkeypatch.setattr(st.IncrementalDedupe, "_read_bands_old", spy)
    b1 = spark.createDataFrame(
        [("u:probe", "a single fresh page of novel words " * 20)],
        "url string, text string",
    )
    inc.process_batch(b1, batch_id=1)
    assert calls, "band probe did not go through the pruned reader"
    # one doc emits n_bands=32 band hashes -> at most 32 of 64 buckets
    assert all(
        b is not None and 0 < len(b) <= 32 for b in calls
    ), f"unpruned band reads: {[len(b) if b else b for b in calls]}"

    df = inc._read_bands_old(spark, batch_id=99, bh_buckets=[0, 1])
    plan = df._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "bhbucket" in pf


def test_bloom_shard_reads_are_bucket_pruned(spark, tmp_path):
    """The seen-probe's filter I/O and driver memory are O(batch buckets):
    _load_bloom returns only the requested buckets' shards and the shard
    read's plan prunes at the bucket partition level."""
    inc = IncrementalDedupe(spark, str(tmp_path / "state_shards"), CFG)
    b0 = spark.createDataFrame(
        [(f"u:{i}", f"wholly distinct page number {i} content " * 20)
         for i in range(20)],
        "url string, text string",
    )
    inc.process_batch(b0, batch_id=0)
    all_buckets = list(range(inc.n_label_buckets))
    shards = inc._load_bloom(spark, exclude_batch=99, buckets=all_buckets)
    assert shards is not None and shards  # complete, sharded, non-empty
    some_bucket = sorted(shards)[0]
    sub = inc._load_bloom(spark, exclude_batch=99, buckets=[some_bucket])
    assert set(sub) == {some_bucket}  # driver holds ONLY requested shards
    nbytes = (inc.shard_bits + 7) // 8
    assert all(v.nbytes == nbytes for v in sub.values())

    df = inc._bloom_rows_df(spark, [0], [some_bucket])
    plan = df._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "bucket" in pf


def test_compaction_crash_between_sigs_and_bloom_recovers(spark, tmp_path):
    """Round-4 ADVICE: a crash after the sigs merge but before the bloom
    merge used to disable the sidecar permanently (the partition sets never
    matched again, so bloom compaction was skipped forever and _load_bloom's
    completeness check failed forever). The backfill now rebuilds the missing
    sentinel shards from the compacted sigs ids and the sidecar stays
    complete."""
    inc = IncrementalDedupe(spark, str(tmp_path / "state_sbc"), CFG)
    texts = {}
    for b in range(3):
        texts[b] = f"wholly separate page number {b} " * 25
        df = spark.createDataFrame(
            [(f"u:{b}", texts[b])], "url string, text string"
        )
        inc.process_batch(df, batch_id=b)
    # crash window: sigs merged to the sentinel, bloom untouched
    ids = [b for b in inc._list_batch_parts(spark, inc.sigs_path) if b < 2]
    inc._compact_table(spark, inc.sigs_path, "sigs", ids, ("bucket",))
    assert sorted(inc._list_batch_parts(spark, inc.sigs_path)) == [-1, 2]
    assert sorted(inc._list_batch_parts(spark, inc.bloom_path)) == [0, 1, 2]

    inc.compact_state()
    # the sidecar is complete again (sentinel rebuilt from sigs ids) ...
    shards = inc._load_bloom(
        spark, exclude_batch=99, buckets=list(range(inc.n_label_buckets))
    )
    assert shards is not None
    # ... and correct: a re-seen batch-0 id is still dropped
    out = inc.process_batch(
        spark.createDataFrame([("u:0", texts[0])], "url string, text string"),
        batch_id=9,
    )
    assert out.count() == 0
    sigs = spark.read.parquet(inc.sigs_path)
    assert sigs.filter(F.col("id") == "u:0").count() == 1


def test_committed_replay_of_all_reseen_batch(spark, tmp_path):
    """A committed batch that signed NOTHING (every id re-seen) leaves a
    0-row sigs partition; an at-least-once replay of it must re-emit the
    same empty result instead of dying on schema inference."""
    inc = IncrementalDedupe(spark, str(tmp_path / "state_empty"), CFG)
    text = "shared boilerplate tokens " * 30
    b0 = spark.createDataFrame([("u:r", text)], "url string, text string")
    inc.process_batch(b0, batch_id=0)
    b1 = spark.createDataFrame([("u:r", text)], "url string, text string")
    out1 = inc.process_batch(b1, batch_id=1)
    assert out1.count() == 0
    out2 = inc.process_batch(b1, batch_id=1)  # committed replay
    assert out2.count() == 0
    labels = spark.read.parquet(inc.labels_path)
    assert labels.count() == 1


def test_orphaned_flat_bloom_partitions_are_repaired(spark, tmp_path):
    """A pre-sharding compaction that crashed between the sigs merge and the
    bloom merge leaves sigs holding only the sentinel while bloom keeps flat
    monolithic per-batch dirs with no sigs counterpart. compact_state must
    repair that store (delete the redundant orphans, rebuild the sentinel
    shards from the sigs sentinel) instead of raising on the flat layout at
    every compaction — a permanent crash loop inside foreachBatch. The
    rebuilt sidecar must stay complete: a re-seen orphan-era id is still
    dropped (no false negatives)."""
    import os
    import shutil

    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango "
    ) * 6
    inc = IncrementalDedupe(spark, str(tmp_path / "state_orphan"), CFG)
    b0 = spark.createDataFrame(
        [("u:old", base + "ending one")], "url string, text string"
    )
    inc.process_batch(b0, batch_id=0)
    b1 = spark.createDataFrame(
        [("u:mid", "a wholly different page of words " * 25)],
        "url string, text string",
    )
    inc.process_batch(b1, batch_id=1)

    # simulate the crashed pre-sharding compaction: batch 0's sigs rows sit
    # in a FLAT sentinel (old code wrote no bucket dirs), its sigs dir is
    # gone, but its bloom dir survives in the legacy MONOLITHIC layout
    flat_sent = str(tmp_path / "flat_sentinel")
    spark.read.parquet(f"{inc.sigs_path}/batch_id=0").select(
        "id", "n_tokens", "shingles", "minhash", "simhash"
    ).coalesce(1).write.mode("overwrite").parquet(flat_sent)
    shutil.rmtree(f"{inc.sigs_path}/batch_id=0")
    shutil.move(flat_sent, f"{inc.sigs_path}/batch_id=-1")
    orphan = f"{inc.bloom_path}/batch_id=0"
    shutil.rmtree(orphan)
    spark.createDataFrame(
        [(b"\x00" * 64,)], "bits binary"
    ).coalesce(1).write.mode("overwrite").parquet(orphan)

    # both compactions must run clean (the old code raised RuntimeError on
    # the flat orphan here, and would again on every retry)
    inc.compact_state()
    inc.compact_state()
    assert not os.path.exists(orphan)
    shards = inc._load_bloom(
        spark, exclude_batch=99, buckets=list(range(inc.n_label_buckets))
    )
    assert shards is not None, "sidecar incomplete after repair"
    # orphan-era id re-seen -> dropped; near-dup of its text still clusters
    b2 = spark.createDataFrame(
        [("u:old", base + "ending one"), ("u:new", base + "ending two")],
        "url string, text string",
    )
    out = inc.process_batch(b2, batch_id=2)
    assert {r["id"] for r in out.collect()} == {"u:new"}
    labels = {
        r["id"]: r["cluster_id"]
        for r in spark.read.parquet(inc.labels_path).collect()
    }
    assert labels["u:new"] == labels["u:old"]


def test_sharded_orphan_bloom_is_merged_not_deleted(spark, tmp_path):
    """A NEW-code crash between the sigs and bloom table merges leaves a
    SHARDED bloom dir with no sigs counterpart. Its bits are not yet in the
    sentinel, so the repair must leave it for the per-bucket merge (deleting
    it would open a false-negative window); completeness and first-seen-wins
    must hold across the next compaction."""
    import shutil

    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango "
    ) * 6
    inc = IncrementalDedupe(spark, str(tmp_path / "state_shorphan"), CFG)
    b0 = spark.createDataFrame(
        [("u:old", base + "ending one")], "url string, text string"
    )
    inc.process_batch(b0, batch_id=0)
    b1 = spark.createDataFrame(
        [("u:mid", "a wholly different page of words " * 25)],
        "url string, text string",
    )
    inc.process_batch(b1, batch_id=1)
    # crash window: sigs 0 merged into a bucketed sentinel, bloom 0 (sharded)
    # not yet merged
    bucketed_sent = str(tmp_path / "bucketed_sentinel")
    spark.read.option("basePath", inc.sigs_path).parquet(
        f"{inc.sigs_path}/batch_id=0"
    ).drop("batch_id").write.mode("overwrite").partitionBy("bucket").parquet(
        bucketed_sent
    )
    shutil.rmtree(f"{inc.sigs_path}/batch_id=0")
    shutil.move(bucketed_sent, f"{inc.sigs_path}/batch_id=-1")

    inc.compact_state()
    shards = inc._load_bloom(
        spark, exclude_batch=99, buckets=list(range(inc.n_label_buckets))
    )
    assert shards is not None, "sidecar incomplete after merge"
    b2 = spark.createDataFrame(
        [("u:old", base + "ending one"), ("u:new", base + "ending two")],
        "url string, text string",
    )
    out = inc.process_batch(b2, batch_id=2)
    assert {r["id"] for r in out.collect()} == {"u:new"}


def _near_dup_batches(spark, n):
    """Two batches: n distinct base docs, then a near-duplicate of each
    (every batch-1 doc pairs with one store doc through the band probe)."""
    base = [
        (f"u:{i:03d}", f"page {i} " + f"topic{i} words about subject {i} " * 12)
        for i in range(n)
    ]
    dups = [(f"{url}-dup", text + " edited") for url, text in base]
    schema = "url string, text string"
    return spark.createDataFrame(base, schema), spark.createDataFrame(dups, schema)


@pytest.mark.parametrize(
    "threshold, join",
    [(None, "BroadcastHashJoinExec"), ("-1", "SortMergeJoinExec")],
    ids=["default", "no_broadcast"],
)
def test_cross_probe_join_follows_threshold(
    spark, tmp_path, monkeypatch, threshold, join
):
    """The batch-vs-store band probe carries no broadcast hint: the planner
    broadcasts the batch's bands while they fit the threshold, and with
    broadcasting off the probe is a shuffle join with the same rows."""
    b0, b1 = _near_dup_batches(spark, 6)
    probes: list = []
    cls = type(b0)
    checkpoint = cls.localCheckpoint

    def spy(self, *args, **kwargs):
        if self.columns == ["id_old", "id_new"]:
            probes.append(self)
        return checkpoint(self, *args, **kwargs)

    key = "spark.sql.autoBroadcastJoinThreshold"
    default = spark.conf.get(key)
    inc = IncrementalDedupe(spark, str(tmp_path / "state"), CFG, n_label_buckets=8)
    try:
        if threshold is not None:
            spark.conf.set(key, threshold)
        inc.process_batch(b0, batch_id=0)
        monkeypatch.setattr(cls, "localCheckpoint", spy)
        out = {tuple(r) for r in inc.process_batch(b1, batch_id=1).collect()}
        monkeypatch.undo()
        labels = spark.read.parquet(inc.labels_path).select("id", "cluster_id")
        labels = {tuple(r) for r in labels.collect()}
    finally:
        spark.conf.set(key, default)

    [probe] = probes
    joins = [
        node_name(n)
        for n in plan_nodes(executed_plan(probe))
        if node_name(n).endswith("JoinExec")
    ]
    assert joins == [join]
    assert out == {(f"u:{i:03d}-dup", f"u:{i:03d}", 1) for i in range(6)}
    assert labels == {
        (f"u:{i:03d}{s}", f"u:{i:03d}") for i in range(6) for s in ("", "-dup")
    }


def test_label_rewrite_one_file_per_bucket(spark, tmp_path):
    """The label rewrite writes one data file per bucket dir: a bucket
    rewritten from stored rows plus new ones is one task's output, not one
    file per task that held its rows."""
    import os

    b0, b1 = _near_dup_batches(spark, 24)
    inc = IncrementalDedupe(spark, str(tmp_path / "state"), CFG, n_label_buckets=8)
    inc.process_batch(b0, batch_id=0)
    inc.process_batch(b1, batch_id=1)
    files = {
        d: sum(f.endswith(".parquet") for f in os.listdir(f"{inc.labels_path}/{d}"))
        for d in os.listdir(inc.labels_path)
        if d.startswith("bucket=")
    }
    assert len(files) == 8
    assert set(files.values()) == {1}, files
