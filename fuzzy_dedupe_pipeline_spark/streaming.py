"""Structured Streaming incremental dedup — new pages vs everything seen.

The batch pipeline answers "cluster this corpus"; a crawl is a *stream* of
dumps, and re-clustering 100 TB per dump is not an option. This module
processes arriving pages incrementally: each micro-batch is signed with the
SAME MinHash/SimHash config as the batch path (identical semantics by
construction — both call minhash.with_signatures / verify.verify_pairs),
matched against a persistent signature store of all prior docs, and assigned
a cluster id.

Shape: `readStream` (file source) -> `foreachBatch`. foreachBatch is the
idiomatic choice here — dedup state is a corpus-wide *signature index* joined
by LSH band keys, not per-key state, so `applyInPandasWithState` (keyed state)
is the wrong primitive.

State layout under state_dir (parquet; Iceberg-table analog — at production
scale these are Iceberg tables and the label rewrite is a MERGE INTO):
  sigs/batch_id=N/bucket=B/  per-batch signatures, hash-bucketed by id so the
                     verify pass reads ONLY buckets containing candidate
                     endpoints (partition-pruned)
  bands/batch_id=N/bhbucket=K/  per-batch (id, band_id, band_hash) — the LSH
                     index, partitioned by pmod(band_hash, n_label_buckets):
                     the probe reads only the partitions containing the
                     micro-batch's own band hashes (Iceberg: cluster/bloom on
                     band_hash — this layout is its file-level analog)
  labels/bucket=B/   (id, cluster_id) hash-bucketed by id; reads AND writes
                     touch only buckets containing batch candidates / remapped
                     cluster members (dynamic partition overwrite — the
                     MERGE INTO analog); a rewrite leaves one file per bucket
  clusterdir/batch_id=N/cbucket=C/  (cluster_id, bucket) membership directory,
                     hash-bucketed by cluster_id: maps a remapped cluster to
                     the label buckets holding its members, so a merge rewrite
                     prunes to those buckets instead of scanning all labels
  bloom/batch_id=N/bucket=B/  (bits binary) Bloom SHARDS over the batch's
                     first-seen ids, one filter of bloom_bits/n_label_buckets
                     bits per id-hash bucket. The per-trigger seen-id probe
                     loads and ORs ONLY the shards of buckets the batch's own
                     ids hash into — the filter's driver memory is O(batch
                     buckets x shard), never O(corpus) (a monolithic filter at
                     the module's 10-bits/doc sizing would be a ~1.25 GB
                     broadcast at 10^9 docs) — and confirms positives against
                     bucket-pruned label partitions
  commits/batch_N    high-watermark marker, written LAST

Per-batch cost model (the whole point of the incremental path): every state
READ is bounded by the batch, not the corpus — seen-id probe = Bloom shards
of the batch's id buckets + positive-confirm against pruned label buckets;
LSH probe = band partitions of the batch's own band-hash buckets; verify
signatures = buckets of candidate endpoints only; label rewrite = buckets
listed in the cluster directory for remapped clusters + buckets of new ids.
With n_label_buckets sized to the corpus (thousands at web scale; 64 default
here), touched-bucket reads are a vanishing fraction of the store.

Legacy layouts: stores written before sigs/bands were hash-bucketed hold flat
batch_id=N/ files. Mixed-depth partition discovery fails in a single read, so
every state read classifies partitions by layout and reads each group
separately (legacy partitions unpruned — correct, just slower); compaction
migrates legacy rows into the bucketed sentinel, and _backfill_bloom rebuilds
monolithic/missing Bloom partitions as shards from the authoritative sigs
ids, so an old store converges to the pruned layout instead of crashing.

Exactly-once: the file-source checkpoint gives at-least-once foreachBatch
execution; this module makes replays IDEMPOTENT rather than assuming
exactly-once:
  * a replayed batch whose commit marker exists is a pure no-op on state —
    its output rows are re-emitted by reading the stored labels
  * sigs/bands/bloom/clusterdir writes go to a batch_id=N partition with
    overwrite, so a crash-then-replay rewrites the same partition instead of
    appending dupes; the Bloom load EXCLUDES the current batch's file so a
    half-committed attempt can't mark its own ids as seen — and because the
    seen-confirm reads the LABEL store (which a crashed attempt writes before
    the marker), ids in the batch's own sigs partition are anti-joined out of
    the seen set too, so a replay re-signs what the crash half-committed
  * label buckets are rewritten from (stored labels + batch); rows a crashed
    attempt already wrote for this batch's ids are anti-joined out so the
    fresh assignment wins exactly once
Re-seen ids (a re-crawled URL in a later dump) are dropped before signing —
first-seen text wins (documented policy; emit-latest would need a tombstone
pass over sigs, an Iceberg MERGE at production scale). Within a batch,
duplicate ids are collapsed to one arbitrary-but-deterministic row first.

All state probes go through the Hadoop FileSystem API, not os.path — the
state dir may be HDFS/S3 in production, where driver-local os.path.exists
would silently report "no state" and the store would be clobbered.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fuzzy_dedupe_pipeline_spark.cc import attach_singletons, connected_components
from fuzzy_dedupe_pipeline_spark.config import DEFAULT_CONFIG, DedupeConfig
from fuzzy_dedupe_pipeline_spark.dataflow import clean_docs
from fuzzy_dedupe_pipeline_spark.fs import (
    fs_delete,
    fs_exists,
    fs_list_names,
    fs_rename,
    fs_touch,
    hadoop_fs,
)
from fuzzy_dedupe_pipeline_spark.lsh import band_table, candidate_pairs
from fuzzy_dedupe_pipeline_spark.minhash import with_signatures
from fuzzy_dedupe_pipeline_spark.verify import verify_pairs

N_LABEL_BUCKETS = 64

# Bloom sidecar: k double-hash probes over xxhash64(id, seed) pairs. The
# filter has no false negatives (every committed id is inserted), so a
# Bloom miss is definitively fresh; positives are confirmed against the
# bucket-pruned label store, so false positives only cost extra bucket reads.
_BLOOM_K = 5
_BLOOM_SEED1 = 177
_BLOOM_SEED2 = 178

_SIG_COLS = ["id", "n_tokens", "shingles", "minhash", "simhash"]


class IncrementalDedupe:
    """Join-against-history incremental near-dup clustering."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        cfg: DedupeConfig = DEFAULT_CONFIG,
        n_label_buckets: int = N_LABEL_BUCKETS,
        bloom_bits: int = 1 << 23,
    ):
        self.spark = spark
        self.cfg = cfg
        self.state_dir = state_dir.rstrip("/")
        self.sigs_path = f"{self.state_dir}/sigs"
        self.bands_path = f"{self.state_dir}/bands"
        self.labels_path = f"{self.state_dir}/labels"
        self.clusterdir_path = f"{self.state_dir}/clusterdir"
        self.bloom_path = f"{self.state_dir}/bloom"
        self.commits_path = f"{self.state_dir}/commits"
        self.n_label_buckets = n_label_buckets
        # bits must stay fixed for a store's lifetime (ORed across batches);
        # size to ~10 bits per expected corpus doc at production scale.
        # The filter is SHARDED by the id-hash bucket: each bucket holds
        # ~corpus/n_label_buckets ids, so a bloom_bits/n_label_buckets shard
        # keeps the same bits-per-doc density while the per-trigger probe
        # loads only the batch's buckets' shards.
        self.bloom_bits = bloom_bits
        self.shard_bits = max(8, bloom_bits // n_label_buckets)

    # -- Hadoop-FS state probes (shared helpers in fs.py; work on HDFS/S3) ----

    def _have_state(self, spark: SparkSession) -> bool:
        """Any batch fully committed? Our own commit markers are the signal —
        a dynamic-partition-overwrite write does NOT refresh a root _SUCCESS
        file, and a half-written labels dir (crash mid-write) must not count
        as state either."""
        return len(fs_list_names(spark, self.commits_path)) > 0

    def _committed(self, spark: SparkSession, batch_id: int) -> bool:
        return fs_exists(spark, f"{self.commits_path}/batch_{batch_id}")

    def _bucket(self, col):
        return F.pmod(F.xxhash64(col), F.lit(self.n_label_buckets)).cast("int")

    def _bh_bucket(self, col):
        """Band-hash partition key for the bands index (band_hash is already
        a 64-bit hash — no rehash needed)."""
        return F.pmod(col, F.lit(self.n_label_buckets)).cast("int")

    def _part_has_data(self, spark: SparkSession, part_path: str) -> bool:
        """A batch partition dir may hold only _SUCCESS (a 0-row write, e.g.
        an all-reseen batch) — reading it alone fails schema inference."""
        return any(
            not n.startswith("_") for n in fs_list_names(spark, part_path)
        )

    def _split_batch_parts(
        self,
        spark: SparkSession,
        path: str,
        bucket_col: str,
        exclude: int | None = None,
    ) -> tuple[list[int], list[int]]:
        """Data-bearing batch_id= partitions of a state table classified by
        layout: (bucketed_ids, flat_ids). Current code nests bucket_col=B/
        dirs under each batch partition; a legacy store wrote flat files.
        Mixed-depth partition discovery fails in one spark.read, so callers
        read each group separately. Empty partitions (only _SUCCESS) are
        omitted — there is nothing to read."""
        bucketed: list[int] = []
        flat: list[int] = []
        for name in fs_list_names(spark, path):
            if not name.startswith("batch_id="):
                continue
            b = int(name.split("=", 1)[1])
            if exclude is not None and b == exclude:
                continue
            sub = fs_list_names(spark, f"{path}/{name}")
            if any(s.startswith(f"{bucket_col}=") for s in sub):
                bucketed.append(b)
            elif any(not s.startswith("_") for s in sub):
                flat.append(b)
        return bucketed, flat

    def _read_batch_table(
        self,
        spark: SparkSession,
        path: str,
        bucket_col: str,
        buckets: list[int] | None,
        columns: list[str],
        exclude_batch: int | None = None,
    ) -> DataFrame | None:
        """Layout-mixed-safe pruned read of a per-batch state table.

        Bucketed partitions get a bucket_col partition filter (pruned scan,
        plan-asserted in tests); legacy flat partitions are read UNPRUNED —
        backward compat mirrors the bloom sidecar's treatment, and compaction
        migrates them into the bucketed sentinel. buckets=[] reads nothing;
        buckets=None skips pruning. Returns None when no partition has data.
        """
        bucketed, flat = self._split_batch_parts(
            spark, path, bucket_col, exclude=exclude_batch
        )
        # basePath anchors partition discovery at the table root (explicit
        # subdir roots with nested bucket dirs otherwise conflict)
        parts: list[DataFrame] = []
        if bucketed:
            df = spark.read.option("basePath", path).parquet(
                *[f"{path}/batch_id={b}" for b in sorted(bucketed)]
            )
            if buckets is not None:
                df = (
                    df.filter(
                        F.col(bucket_col).isin([int(b) for b in buckets])
                    )
                    if buckets
                    else df.limit(0)
                )
            parts.append(df.select(*columns))
        if flat:
            df = spark.read.option("basePath", path).parquet(
                *[f"{path}/batch_id={b}" for b in sorted(flat)]
            )
            if buckets is not None and not buckets:
                df = df.limit(0)
            parts.append(df.select(*columns))
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # -- bounded (O(batch)) state reads --------------------------------------

    def _collect_buckets(self, df: DataFrame) -> list[int]:
        """Driver-side bucket list for partition pruning; <= n_label_buckets
        rows, one tiny job."""
        return self._collect_bucket_sets(b=df)["b"]

    def _collect_bucket_sets(self, **dfs: DataFrame) -> dict[str, list[int]]:
        """Several bucket lists (each df has a `bucket` column) in one job."""
        tagged = [df.select(F.lit(k).alias("set"), "bucket") for k, df in dfs.items()]
        out: dict[str, list[int]] = {k: [] for k in dfs}
        for r in reduce(DataFrame.union, tagged).distinct().collect():
            out[r["set"]].append(int(r["bucket"]))
        return {k: sorted(v) for k, v in out.items()}

    def _read_labels(
        self, spark: SparkSession, buckets: list[int] | None
    ) -> DataFrame:
        """(id, cluster_id, bucket). buckets=None reads everything (legacy /
        fallback only); [] is an empty frame; otherwise the bucket partition
        filter prunes the scan to the listed partitions (plan-asserted in
        tests/test_streaming.py)."""
        if not fs_exists(spark, self.labels_path):
            return spark.createDataFrame(
                [], "id string, cluster_id string, bucket int"
            )
        df = spark.read.parquet(self.labels_path)
        if buckets is None:
            return df
        if not buckets:
            return df.limit(0)
        return df.filter(F.col("bucket").isin([int(b) for b in buckets]))

    def _read_sigs_old(
        self, spark: SparkSession, batch_id: int, buckets: list[int]
    ) -> DataFrame | None:
        """Prior-batch signatures restricted to the candidate-endpoint
        buckets (and never this batch's own half-committed partition).
        None = no prior data at all."""
        return self._read_batch_table(
            spark,
            self.sigs_path,
            "bucket",
            buckets,
            _SIG_COLS,
            exclude_batch=batch_id,
        )

    def _read_bands_old(
        self, spark: SparkSession, batch_id: int, bh_buckets: list[int]
    ) -> DataFrame | None:
        """The LSH index probe's store side, pruned to the partitions holding
        the micro-batch's own band hashes (pmod(band_hash, n_label_buckets))
        — the last per-trigger read that used to scan the whole index. At
        production scale this is Iceberg band_hash clustering; here it is the
        same dir-name pruning the label store gets. None = no prior data."""
        return self._read_batch_table(
            spark,
            self.bands_path,
            "bhbucket",
            bh_buckets,
            ["id", "band_id", "band_hash"],
            exclude_batch=batch_id,
        )

    def _read_clusterdir(
        self, spark: SparkSession, cbuckets: list[int]
    ) -> DataFrame:
        """(cluster_id, bucket) membership rows for the listed cluster-hash
        partitions. Entries are append-only per batch and may repeat or go
        stale after remaps — stale rows only add pruned-read buckets, never
        wrong results."""
        if not cbuckets or not fs_exists(spark, self.clusterdir_path):
            return spark.createDataFrame([], "cluster_id string, bucket int")
        return (
            spark.read.parquet(self.clusterdir_path)
            .filter(F.col("cbucket").isin([int(b) for b in cbuckets]))
            .select("cluster_id", "bucket")
        )

    # -- Bloom sidecar -------------------------------------------------------

    def _bloom_rows_df(
        self, spark: SparkSession, part_ids: list[int], buckets: list[int]
    ) -> DataFrame:
        """(bucket, bits) shard rows of the listed batch partitions, pruned
        to the listed buckets (partition filter — plan-asserted in tests)."""
        return (
            spark.read.option("basePath", self.bloom_path)
            .parquet(
                *[f"{self.bloom_path}/batch_id={b}" for b in sorted(part_ids)]
            )
            .filter(F.col("bucket").isin([int(b) for b in buckets]))
            .select("bucket", "bits")
        )

    def _load_bloom(
        self, spark: SparkSession, exclude_batch: int, buckets: list[int]
    ) -> dict[int, np.ndarray] | None:
        """Per-bucket OR of the Bloom shards for ONLY the listed id-hash
        buckets, across every batch partition EXCEPT the current batch's (a
        crash after the bloom write but before the commit marker must not
        make the replay see its own ids as seen). A bucket with no shard in
        any partition holds no committed id — ids hashing there are
        definitively fresh. None => the sidecar is absent, incomplete, or
        still in the legacy monolithic layout — caller falls back to a
        full-label probe (compaction's _backfill_bloom migrates/repairs it).

        Completeness check: a pre-sidecar (legacy) store that keeps running
        under this code gains bloom rows for NEW batches only; trusting that
        partial filter would pass old ids as Bloom-negative ("definitively
        fresh") and re-enter them into the index. The bloom is usable only if
        every sigs batch partition (the authoritative committed set; sentinel
        included, since compaction merges tables in lockstep) has a matching
        SHARDED bloom partition — the current batch's own partition exempted
        (it is excluded from the OR anyway)."""
        if not fs_exists(spark, self.bloom_path) or not buckets:
            return None
        sig_parts = set(self._list_batch_parts(spark, self.sigs_path))
        bloom_parts = set(self._list_batch_parts(spark, self.bloom_path))
        if not (sig_parts - {exclude_batch}) <= bloom_parts:
            return None
        sharded, flat = self._split_batch_parts(
            spark, self.bloom_path, "bucket", exclude=exclude_batch
        )
        if flat:
            # legacy monolithic rows have a different geometry (bloom_bits,
            # not shard_bits) — unusable until compaction rebuilds them
            return None
        if not sharded:
            return None
        nbytes = (self.shard_bits + 7) // 8
        merged: dict[int, np.ndarray] = {}
        for r in self._bloom_rows_df(spark, sharded, buckets).collect():
            b = np.frombuffer(r["bits"], dtype=np.uint8)
            if b.size != nbytes:
                raise ValueError(
                    "bloom shard size mismatch — bloom_bits/n_label_buckets "
                    "must stay fixed for a store's lifetime"
                )
            acc = merged.get(int(r["bucket"]))
            if acc is None:
                merged[int(r["bucket"])] = b.copy()
            else:
                acc |= b
        return merged

    def _write_bloom(
        self, spark: SparkSession, ids_df: DataFrame, batch_id: int
    ) -> None:
        self._write_bloom_rows(
            spark, ids_df, f"{self.bloom_path}/batch_id={batch_id}"
        )

    def _write_bloom_rows(
        self, spark: SparkSession, ids_df: DataFrame, dest: str
    ) -> None:
        """Fully distributed shard build: ids are hash-repartitioned by their
        id bucket, each task builds the shard(s) of the buckets it owns (one
        shard_bits/8-byte array per bucket), rows written partitioned by
        bucket. No driver-side OR at any size — per-task memory is
        (buckets-in-task x shard bytes)."""
        sb = self.shard_bits
        nbytes = (sb + 7) // 8
        k = _BLOOM_K
        hashed = ids_df.select(
            self._bucket(F.col("id")).alias("bucket"),
            F.xxhash64(F.col("id"), F.lit(_BLOOM_SEED1)).alias("h1"),
            F.xxhash64(F.col("id"), F.lit(_BLOOM_SEED2)).alias("h2"),
        ).repartition(
            max(1, min(self.n_label_buckets, 32)), F.col("bucket")
        )

        def gen(it):
            acc: dict[int, np.ndarray] = {}
            for pdf in it:
                if not len(pdf):
                    continue
                bk = pdf["bucket"].to_numpy(dtype=np.int64)
                a = pdf["h1"].to_numpy(dtype=np.int64).view(np.uint64)
                b = (
                    pdf["h2"].to_numpy(dtype=np.int64).view(np.uint64)
                    | np.uint64(1)
                )
                for bucket in np.unique(bk):
                    bits = acc.setdefault(
                        int(bucket), np.zeros(nbytes, dtype=np.uint8)
                    )
                    mask = bk == bucket
                    aa, bb = a[mask], b[mask]
                    with np.errstate(over="ignore"):
                        for i in range(k):
                            idx = (aa + np.uint64(i) * bb) % np.uint64(sb)
                            np.bitwise_or.at(
                                bits,
                                (idx >> np.uint64(3)).astype(np.int64),
                                (
                                    np.uint8(1)
                                    << (idx & np.uint64(7)).astype(np.uint8)
                                ).astype(np.uint8),
                            )
            if acc:
                yield pd.DataFrame(
                    {
                        "bucket": list(acc.keys()),
                        "bits": [v.tobytes() for v in acc.values()],
                    }
                )

        (
            hashed.mapInPandas(gen, "bucket int, bits binary")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(dest)
        )

    def _backfill_bloom(self, spark: SparkSession) -> None:
        """Restore sidecar completeness from the authoritative sigs store:
        every sigs batch partition whose bloom partition is missing OR still
        in the legacy monolithic layout gets a sharded bloom partition
        rebuilt from that partition's ids (closes the crash window between
        the sigs and bloom compactions, and migrates pre-sidecar /
        pre-sharding stores). Crash-safe: each rebuild writes to a tmp dir
        and renames into place; a crash between delete and rename leaves the
        partition missing, which _load_bloom treats as incomplete (full-label
        probe fallback) until the next compaction retries.

        Also repairs ORPHANED FLAT bloom partitions (a legacy monolithic
        bloom batch dir with no sigs counterpart): a pre-sharding compaction
        that crashed between the sigs merge and the bloom merge leaves sigs
        holding only the sentinel while bloom keeps flat per-batch dirs.
        Those dirs' ids live in the sigs sentinel (that is what made them
        orphans), so deleting them and rebuilding the sentinel shards from
        the sigs sentinel restores completeness — whereas left in place
        their flat layout would make _compact_table("bloom") raise on every
        subsequent compaction: a permanent crash loop inside foreachBatch,
        where the pre-sharding code merely degraded to the full-label probe.
        SHARDED orphans (a new-code crash between the sigs and bloom table
        merges) are left alone: their layout matches the sentinel's, so the
        bloom compaction arm merges their bits per-bucket as normal sources."""
        sig_parts = self._list_batch_parts(spark, self.sigs_path)
        force_sentinel = False
        for b in self._list_batch_parts(spark, self.bloom_path):
            if b in sig_parts:
                continue
            bp = f"{self.bloom_path}/batch_id={b}"
            if any(
                n.startswith("bucket=") for n in fs_list_names(spark, bp)
            ):
                continue  # sharded orphan: compaction merges it per-bucket
            fs_delete(spark, bp, recursive=True)
            # the deleted bits are only covered by the sigs sentinel, so the
            # sentinel's shards must be rebuilt even if already sharded
            force_sentinel = True
        for b in sig_parts:
            bp = f"{self.bloom_path}/batch_id={b}"
            if not (b == -1 and force_sentinel) and any(
                n.startswith("bucket=") for n in fs_list_names(spark, bp)
            ):
                continue  # already sharded
            sig_part = f"{self.sigs_path}/batch_id={b}"
            if (
                fs_exists(spark, bp)
                and not self._part_has_data(spark, bp)
                and not self._part_has_data(spark, sig_part)
            ):
                continue  # both empty (0-row batch) — nothing to rebuild
            if self._part_has_data(spark, sig_part):
                ids = spark.read.parquet(sig_part).select("id")
            else:
                ids = spark.createDataFrame([], "id string")
            tmp = f"{self.bloom_path}/.rebuild_{b if b >= 0 else 'sentinel'}"
            self._write_bloom_rows(spark, ids, tmp)
            if fs_exists(spark, bp):
                fs_delete(spark, bp, recursive=True)
            fs_rename(spark, tmp, bp)

    def _own_attempt_ids(
        self, spark: SparkSession, batch_id: int
    ) -> DataFrame | None:
        """Ids a CRASHED attempt of this batch already signed (the batch's own
        sigs partition; sigs commit first, so whenever a crashed attempt got
        far enough to write label rows this partition exists and contains
        exactly the ids it labelled). None = no prior attempt."""
        own = f"{self.sigs_path}/batch_id={batch_id}"
        if not fs_exists(spark, own) or not self._part_has_data(spark, own):
            return None
        return spark.read.parquet(own).select("id")

    def _filter_fresh(
        self,
        spark: SparkSession,
        clean: DataFrame,
        batch_id: int,
        scratch: list,
        own_ids: DataFrame | None,
    ) -> DataFrame:
        """First-seen-wins: drop ids already committed. Bloom-negative ids are
        definitively fresh (no false negatives); Bloom-positive ids are
        confirmed against ONLY the label buckets they hash into. The filter
        itself is loaded as per-bucket SHARDS of the batch's own id buckets,
        so both I/O and driver/broadcast memory are O(batch), never a corpus
        scan (the previous monolithic OR was O(corpus bits) in memory).

        The confirm reads the LABEL store, which — unlike the bloom sidecar,
        whose load excludes this batch's row — may already hold rows a crashed
        attempt of THIS batch wrote (labels commit before the marker). Those
        ids must not be dropped as "seen": the replay has to re-sign them or
        their output rows are lost and their stale labels never converge. The
        batch's own sigs partition identifies exactly those rows (sigs commit
        before labels), so its ids (own_ids, None if no prior attempt) are
        anti-joined out of the seen set in both probe paths."""
        ids = clean.select("id")
        # the batch's id buckets: <= n_label_buckets rows, one tiny job —
        # needed up front so only those buckets' shards are loaded
        id_buckets = self._collect_buckets(
            ids.select(self._bucket(F.col("id")).alias("bucket"))
        )
        shards = self._load_bloom(
            spark, exclude_batch=batch_id, buckets=id_buckets
        )
        if shards is None:
            # legacy/incomplete sidecar: conservative full probe
            seen = ids.join(
                self._read_labels(spark, None).select("id"), "id", "left_semi"
            )
            if own_ids is not None:
                seen = seen.join(own_ids, "id", "left_anti")
            return clean.join(seen, "id", "left_anti")
        bc = spark.sparkContext.broadcast(
            {b: bits.tobytes() for b, bits in shards.items()}
        )
        scratch.append(bc)
        k = _BLOOM_K
        sb = self.shard_bits

        @F.pandas_udf("boolean")
        def maybe_seen(
            bucket: pd.Series, h1: pd.Series, h2: pd.Series
        ) -> pd.Series:
            shard_map = bc.value
            bk = bucket.to_numpy(dtype=np.int64)
            a = h1.to_numpy(dtype=np.int64).view(np.uint64)
            b = h2.to_numpy(dtype=np.int64).view(np.uint64) | np.uint64(1)
            # default False: a bucket with no shard holds no committed id
            res = np.zeros(bk.size, dtype=bool)
            with np.errstate(over="ignore"):
                for bucket_val in np.unique(bk):
                    raw = shard_map.get(int(bucket_val))
                    if raw is None:
                        continue
                    arr = np.frombuffer(raw, dtype=np.uint8)
                    mask = bk == bucket_val
                    aa, bb = a[mask], b[mask]
                    r = np.ones(aa.size, dtype=bool)
                    for i in range(k):
                        idx = (aa + np.uint64(i) * bb) % np.uint64(sb)
                        r &= (
                            arr[(idx >> np.uint64(3)).astype(np.int64)]
                            >> (idx & np.uint64(7)).astype(np.uint8)
                        ) & 1 == 1
                    res[mask] = r
            return pd.Series(res)

        maybe = (
            ids.withColumn("bucket", self._bucket(F.col("id")))
            .withColumn("h1", F.xxhash64(F.col("id"), F.lit(_BLOOM_SEED1)))
            .withColumn("h2", F.xxhash64(F.col("id"), F.lit(_BLOOM_SEED2)))
            .filter(maybe_seen(F.col("bucket"), F.col("h1"), F.col("h2")))
            .select("id", "bucket")
            .localCheckpoint()
        )
        mb = self._collect_buckets(maybe.select("bucket"))
        if not mb:
            return clean
        seen = maybe.select("id").join(
            self._read_labels(spark, mb).select("id"), "id", "left_semi"
        )
        if own_ids is not None:
            seen = seen.join(own_ids, "id", "left_anti")
        return clean.join(seen, "id", "left_anti")

    # -- state compaction ----------------------------------------------------
    #
    # sigs/bands/bloom/clusterdir gain one batch_id=N partition dir per
    # micro-batch; at thousands of batches the state read cost is dominated
    # by file listing. compact_state() rewrites all partitions STRICTLY BELOW
    # the newest committed batch into the single sentinel partition
    # batch_id=-1 (merging any previous sentinel). The newest committed
    # partition is kept as-is so an at-least-once replay of the most recent
    # batch (the only batch the stream checkpoint can replay) still finds its
    # own partition. Iceberg mapping: rewrite_data_files + expire_snapshots.
    #
    # Crash safety (marker protocol, same spirit as the commit markers):
    #   1. write consolidated rows to {state}/.compact/<table>/ (+_SUCCESS)
    #   2. write marker {state}/.compact/COMMIT_<table> listing source dirs
    #      (to a temp file, atomically renamed into place)
    #   3. delete source partition dirs
    #   4. rename staging -> <table>/batch_id=-1
    #   5. delete marker
    # A crash before 2 leaves only staging garbage (sources intact). A crash
    # after 2 is finished by _recover_compaction() (called at the top of
    # process_batch): the marker proves staging holds the full merged set, so
    # re-running 3-5 is idempotent.

    def _state_tables(self):
        """(table, path, partition_cols) for every per-batch state table."""
        return (
            ("sigs", self.sigs_path, ("bucket",)),
            ("bands", self.bands_path, ("bhbucket",)),
            ("bloom", self.bloom_path, ("bucket",)),
            ("clusterdir", self.clusterdir_path, ("cbucket",)),
        )

    def _derive_bucket_col(self, table: str):
        """Bucket expression for LEGACY flat rows of a table (stores written
        before that table was hash-partitioned) — compaction uses it to
        migrate them into the bucketed sentinel layout."""
        return {
            "sigs": self._bucket(F.col("id")),
            "bands": self._bh_bucket(F.col("band_hash")),
            "clusterdir": self._bucket(F.col("cluster_id")),
        }[table]

    def _compact_marker(self, table: str) -> str:
        return f"{self.state_dir}/.compact/COMMIT_{table}"

    def _list_batch_parts(self, spark: SparkSession, path: str) -> list[int]:
        return [
            int(name.split("=", 1)[1])
            for name in fs_list_names(spark, path)
            if name.startswith("batch_id=")
        ]

    def _compact_table(
        self,
        spark: SparkSession,
        path: str,
        table: str,
        merge_ids: list[int],
        part_cols: tuple[str, ...] = (),
    ) -> None:
        staging = f"{self.state_dir}/.compact/{table}"
        bucket_col = part_cols[0]
        want = set(merge_ids)
        bucketed, flat = self._split_batch_parts(spark, path, bucket_col)
        bucketed = sorted(b for b in bucketed if b in want)
        flat = sorted(b for b in flat if b in want)
        if not bucketed and not flat:
            # every merged source is an empty (0-row) partition — no staging
            # needed; deleting empty dirs loses nothing, so skip the marker
            # protocol and remove them directly
            for b in sorted(merge_ids):
                p = f"{path}/batch_id={b}"
                if b != -1 and fs_exists(spark, p):
                    fs_delete(spark, p, recursive=True)
            return
        if table == "bloom":
            if flat:
                raise RuntimeError(
                    "bloom compaction found legacy monolithic partitions "
                    f"({flat}) — _backfill_bloom must run first (compact_"
                    "state does); their geometry cannot be merged with shards"
                )
            sb_bytes = (self.shard_bits + 7) // 8

            def or_bits(pdf: pd.DataFrame) -> pd.DataFrame:
                acc = np.zeros(sb_bytes, dtype=np.uint8)
                for raw in pdf["bits"]:
                    b = np.frombuffer(raw, dtype=np.uint8)
                    if b.size != acc.size:
                        raise ValueError("bloom shard size mismatch")
                    acc |= b
                return pd.DataFrame(
                    {"bucket": [int(pdf["bucket"].iloc[0])],
                     "bits": [acc.tobytes()]}
                )

            # distributed per-bucket OR — the sentinel keeps one shard row
            # per bucket; nothing corpus-sized ever lands on the driver
            (
                spark.read.option("basePath", path)
                .parquet(*[f"{path}/batch_id={b}" for b in bucketed])
                .select("bucket", "bits")
                .groupBy("bucket")
                .applyInPandas(or_bits, "bucket int, bits binary")
                .write.mode("overwrite")
                .partitionBy("bucket")
                .parquet(staging)
            )
        else:
            # basePath anchors partition discovery at the table root
            # (multiple explicit roots with nested bucket= dirs otherwise
            # conflict); the discovered batch_id column is dropped — the
            # consolidated rows live under batch_id=-1 afterwards. Legacy
            # flat partitions lack the bucket column: derive it, so the
            # sentinel is always fully bucketed (the migration path).
            groups: list[DataFrame] = []
            if bucketed:
                groups.append(
                    spark.read.option("basePath", path)
                    .parquet(*[f"{path}/batch_id={b}" for b in bucketed])
                    .drop("batch_id")
                )
            if flat:
                groups.append(
                    spark.read.option("basePath", path)
                    .parquet(*[f"{path}/batch_id={b}" for b in flat])
                    .drop("batch_id")
                    .withColumn(bucket_col, self._derive_bucket_col(table))
                )
            df = groups[0]
            for g in groups[1:]:
                df = df.unionByName(g)
            (
                df.repartition(*[F.col(c) for c in part_cols])
                .write.mode("overwrite")
                .partitionBy(*part_cols)
                .parquet(staging)
            )
        # atomic marker (see protocol above)
        marker = self._compact_marker(table)
        tmp = marker + ".tmp"
        mfs, mpath = hadoop_fs(spark, tmp)
        out = mfs.create(mpath, True)
        out.write(bytearray("\n".join(map(str, sorted(merge_ids))).encode()))
        out.close()
        fs_rename(spark, tmp, marker)
        self._finish_compaction(spark, path, table)

    def _finish_compaction(self, spark: SparkSession, path: str, table: str) -> None:
        """Steps 3-5 of the protocol; idempotent, also the crash-recovery."""
        marker = self._compact_marker(table)
        if not fs_exists(spark, marker):
            return
        merged = (
            spark.read.format("text").load(marker).toPandas()["value"].tolist()
        )
        staging = f"{self.state_dir}/.compact/{table}"
        if fs_exists(spark, staging):
            for b in merged:
                p = f"{path}/batch_id={int(b)}"
                if fs_exists(spark, p):
                    fs_delete(spark, p, recursive=True)
            dest = f"{path}/batch_id=-1"
            if fs_exists(spark, dest):
                # the marker (written atomically) lists every merged source
                # including any previous sentinel, so a surviving dest means
                # state corruption — renaming would NEST staging inside it
                # and duplicate rows. Refuse loudly.
                raise RuntimeError(
                    f"compaction: {dest} exists but is not in the marker's "
                    f"source list ({merged}) — state is inconsistent; "
                    "refusing to rename staging over it"
                )
            fs_rename(spark, staging, dest)
        fs_delete(spark, marker)

    def _recover_compaction(self, spark: SparkSession) -> None:
        for table, path, _pcols in self._state_tables():
            self._finish_compaction(spark, path, table)

    def compact_state(self, watermark: int | None = None) -> int:
        """Merge per-batch state partitions with batch_id < watermark
        (default: the newest committed batch) into the batch_id=-1 sentinel.
        Returns the max number of partition dirs merged across tables
        (0 = nothing to do). Run between triggers (maintenance), not
        concurrent with a batch — run_stream(compact_every=K) wires this."""
        spark = self.spark
        self._recover_compaction(spark)
        committed = [
            int(name.split("_", 1)[1])
            for name in fs_list_names(spark, self.commits_path)
        ]
        if not committed:
            return 0
        # clamp to the newest committed batch: an explicit watermark above it
        # would fold that batch's partition into the sentinel, and a later
        # at-least-once replay of it takes the _committed path, which reads
        # sigs/batch_id=N directly — path-not-found would kill the stream
        watermark = (
            max(committed) if watermark is None else min(watermark, max(committed))
        )
        # restore sidecar completeness BEFORE merging: every sigs partition
        # with a missing or legacy-monolithic bloom partition gets sharded
        # shards rebuilt from its ids (the authoritative committed set).
        # This closes the crash window between the sigs and bloom merges —
        # previously that crash skipped bloom compaction forever and the
        # sidecar silently degraded to the full-label probe — and it FILLS
        # (not launders) a pre-sidecar store's gap: after the rebuild the
        # merged sentinel genuinely covers every committed id.
        self._backfill_bloom(spark)
        merged = 0
        for table, path, pcols in self._state_tables():
            ids = [
                b
                for b in self._list_batch_parts(spark, path)
                if b == -1 or b < watermark
            ]
            if len(ids) <= 1:
                continue
            self._compact_table(spark, path, table, ids, pcols)
            merged = max(merged, len(ids))
        return merged

    # -- one micro-batch -----------------------------------------------------

    def process_batch(
        self,
        batch_df: DataFrame,
        batch_id: int,
        id_col: str = "url",
        text_col: str = "text",
    ) -> DataFrame:
        """Returns (id, cluster_id, batch_id) for the batch docs and commits
        state. Runs on the batch DataFrame's own session (foreachBatch-safe).
        Idempotent under at-least-once replay (see module docstring); every
        state read is bounded by the batch, not the corpus.
        """
        spark = batch_df.sparkSession
        cfg = self.cfg
        # finish any compaction a crash interrupted (no-op in the common case:
        # a handful of existence probes)
        self._recover_compaction(spark)

        # intra-batch id collapse must be DETERMINISTIC (dropDuplicates keeps
        # an arbitrary row, which would break replay idempotence): min text
        # wins
        from pyspark.sql import Window

        w_id = Window.partitionBy("id").orderBy("text_norm", "text_final")
        # localCheckpoint: the normalize+window lineage is consumed at least
        # three times per trigger (the seen-probe's bucket collect, the
        # Bloom-maybe checkpoint, and the fresh-docs signature build) —
        # materializing it once keeps the batch's heaviest shuffle single-run
        clean = (
            clean_docs(batch_df, id_col, text_col)
            .withColumn("_rn", F.row_number().over(w_id))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .localCheckpoint()
        )

        if self._committed(spark, batch_id):
            # replayed batch: state already reflects it — re-emit output from
            # the stored labels, touch nothing. The original execution only
            # emitted ids it actually signed (re-seen ids were dropped by the
            # first-seen-wins anti-join), so restrict to this batch's own sigs
            # partition — joining ALL clean ids against labels would re-emit
            # rows the original run never produced (extra rows in an
            # at-least-once downstream sink).
            batch_part = f"{self.sigs_path}/batch_id={batch_id}"
            if not self._part_has_data(spark, batch_part):
                # the committed batch signed nothing (all ids re-seen) —
                # re-emit the same empty result; reading the 0-row partition
                # would fail schema inference
                return clean.limit(0).select(
                    "id",
                    F.col("id").alias("cluster_id"),
                    F.lit(batch_id).cast("long").alias("batch_id"),
                )
            batch_ids = spark.read.parquet(batch_part).select("id")
            # the batch's label buckets are literally the sigs partition's
            # bucket= dir names — prune the label read without running a job
            buckets = [
                int(n.split("=", 1)[1])
                for n in fs_list_names(spark, batch_part)
                if n.startswith("bucket=")
            ]
            labels = self._read_labels(spark, buckets or None)
            return (
                clean.select("id")
                .join(batch_ids, "id", "left_semi")
                .join(labels.select("id", "cluster_id"), "id", "left")
                .select(
                    "id",
                    F.coalesce("cluster_id", "id").alias("cluster_id"),
                    F.lit(batch_id).cast("long").alias("batch_id"),
                )
            )

        persists: list[DataFrame] = []
        scratch_bcs: list = []
        have_state = self._have_state(spark)
        # ids a CRASHED attempt of this batch half-committed (None = no prior
        # attempt) — anti-joined out of every stale-state lookup below so the
        # replay's fresh computation wins
        own_ids = self._own_attempt_ids(spark, batch_id)
        if have_state:
            # first-seen wins: a re-crawled url must not re-enter the index
            # (duplicate sig rows would self-pair in the bands join and emit
            # conflicting label rows). Bloom shards + pruned confirm —
            # O(batch), replaces the full prior-sigs scan.
            fresh = self._filter_fresh(
                spark, clean, batch_id, scratch_bcs, own_ids
            )
        else:
            fresh = clean

        sigs_new = with_signatures(
            fresh.select(F.col("id").alias("url"), "text_norm"),
            cfg,
            id_col="url",
            text_col="text_norm",
        ).localCheckpoint()
        nonempty = sigs_new.filter(F.size("shingles") > 0)
        bands_new = band_table(nonempty, cfg).localCheckpoint()

        intra, _dropped = candidate_pairs(nonempty, cfg, persists=persists)

        ep_buckets: list[int] = []
        bands_old = None
        if have_state:
            # the LSH index probe: store-side bands are the big side. No
            # broadcast hint: bands_new holds 32 rows per batch doc, so it
            # grows with the trigger size; checkpointed, its size is known,
            # and the planner broadcasts it while that fits the threshold.
            # The store read is pruned to the partitions holding the batch's
            # OWN band hashes (one tiny bucket-list job over bands_new) — the
            # probe's I/O is bounded by the batch's band diversity, not the
            # corpus. The same job lists the label buckets of the batch's
            # ids, which the label rewrite reads.
            own = self._collect_bucket_sets(
                bh=bands_new.select(
                    self._bh_bucket(F.col("band_hash")).alias("bucket")
                ),
                ids=sigs_new.select(self._bucket(F.col("id")).alias("bucket")),
            )
            bh_buckets = own["bh"]
            bands_old = self._read_bands_old(spark, batch_id, bh_buckets)
        if bands_old is not None:
            cross_raw = (
                bands_old.join(
                    bands_new.select(
                        "band_id", "band_hash", F.col("id").alias("id_new")
                    ),
                    ["band_id", "band_hash"],
                )
                .select(F.col("id").alias("id_old"), "id_new")
                .dropDuplicates(["id_old", "id_new"])
                .localCheckpoint()
            )
            ep_buckets = self._collect_buckets(
                cross_raw.select(self._bucket(F.col("id_old")).alias("bucket"))
            )
            cross = cross_raw.select(
                F.least(F.col("id_old"), F.col("id_new")).alias("id1"),
                F.greatest(F.col("id_old"), F.col("id_new")).alias("id2"),
            )
            candidates = intra.union(cross).dropDuplicates(["id1", "id2"])
            # verify needs old signatures ONLY for candidate endpoints —
            # bucket-pruned read instead of the whole store
            sigs_old = self._read_sigs_old(spark, batch_id, ep_buckets)
            sigs_all = (
                sigs_new
                if sigs_old is None
                else sigs_old.unionByName(sigs_new)
            )
        else:
            candidates = intra
            sigs_all = sigs_new

        edges = verify_pairs(
            candidates, candidates.limit(0), sigs_all, cfg, persists=persists
        ).select("id1", "id2")

        # rewrite old endpoints to their existing cluster label so min-label
        # CC over the batch subgraph composes with the global labelling; the
        # label lookup reads only the candidate-endpoint buckets
        used_old_labels = None
        if have_state:
            labels_lookup = self._read_labels(spark, ep_buckets).select(
                "id", "cluster_id"
            )
            if own_ids is not None:
                # replay guard: a crashed attempt's half-committed label rows
                # for THIS batch's own ids must not rewrite the replay's
                # intra-batch edge endpoints — stale rows a->a, b->a would
                # collapse edge (a,b) to (a,a), drop b from CC, and the
                # anti-join below would then commit the split (b->b). Same
                # anti-join as the seen probe and the duplicate-row guard;
                # used_old_labels derives from these columns, so it is
                # cleaned by construction.
                labels_lookup = labels_lookup.join(own_ids, "id", "left_anti")
            l1 = labels_lookup.select(
                F.col("id").alias("id1"), F.col("cluster_id").alias("c1")
            )
            l2 = labels_lookup.select(
                F.col("id").alias("id2"), F.col("cluster_id").alias("c2")
            )
            # checkpoint the joined edges: CC, the remap derivation and the
            # rewrite below all read them — without materialization each
            # would re-run the whole verify chain
            ej = (
                edges.join(l1, "id1", "left").join(l2, "id2", "left")
            ).localCheckpoint()
            edges = ej.select(
                F.coalesce("c1", F.col("id1")).alias("id1"),
                F.coalesce("c2", F.col("id2")).alias("id2"),
            )
            # the old cluster labels present in the batch subgraph — exactly
            # the comp nodes that are not new ids, so remap derives from the
            # batch's own edges, never from a store scan
            used_old_labels = (
                ej.select(F.col("c1").alias("lid"))
                .union(ej.select(F.col("c2").alias("lid")))
                .filter(F.col("lid").isNotNull())
                .distinct()
            )

        comp = connected_components(
            edges, max_iters=cfg.cc_max_iters, checkpoint_dir=cfg.checkpoint_dir
        )
        assign = attach_singletons(sigs_new.select("id"), comp)
        new_b = assign.withColumn(
            "bucket", self._bucket(F.col("id"))
        ).localCheckpoint()

        if have_state:
            # a batch doc bridging two existing clusters merges them: any old
            # cluster label that CC relabelled propagates to the store
            remap = (
                comp.join(used_old_labels, comp.id == used_old_labels.lid)
                .filter(F.col("cluster_id") != F.col("id"))
                .select(
                    F.col("id").alias("old_cluster"),
                    F.col("cluster_id").alias("new_cluster"),
                )
                .localCheckpoint()
            )
            # MERGE-INTO analog with bounded reads: the cluster directory
            # (pruned to the remapped clusters' hash partitions) lists the
            # label buckets holding their members; only those buckets plus
            # the new ids' buckets are read and rewritten.
            remap_cb = self._collect_buckets(
                remap.select(self._bucket(F.col("old_cluster")).alias("bucket"))
            )
            member_buckets: list[int] = []
            if remap_cb:
                cdir = self._read_clusterdir(spark, remap_cb)
                member_buckets = self._collect_buckets(
                    cdir.join(
                        remap.select(
                            F.col("old_cluster").alias("cluster_id")
                        ),
                        "cluster_id",
                        "left_semi",
                    ).select("bucket")
                )
            # new_b holds exactly sigs_new's ids, so its buckets are own["ids"]
            write_buckets = sorted(set(member_buckets) | set(own["ids"]))
            labels_touched = self._read_labels(spark, write_buckets)
            updated = (
                labels_touched.join(
                    remap, labels_touched.cluster_id == remap.old_cluster, "left"
                )
                .select(
                    "id",
                    F.coalesce("new_cluster", "cluster_id").alias("cluster_id"),
                    "bucket",
                )
                # crash-replay guard: a crashed attempt may already have
                # committed label rows for this batch's ids — the fresh
                # assignment wins, never duplicated
                .join(new_b.select("id"), "id", "left_anti")
            )
            to_write = (
                updated.unionByName(new_b.select("id", "cluster_id", "bucket"))
                .localCheckpoint()
            )
        else:
            to_write = new_b.select("id", "cluster_id", "bucket").localCheckpoint()

        # commit order: index partitions first (idempotent per-batch
        # overwrite), labels buckets next, watermark marker LAST
        (
            sigs_new.withColumn("bucket", self._bucket(F.col("id")))
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(f"{self.sigs_path}/batch_id={batch_id}")
        )
        (
            bands_new.withColumn(
                "bhbucket", self._bh_bucket(F.col("band_hash"))
            )
            .write.mode("overwrite")
            .partitionBy("bhbucket")
            .parquet(f"{self.bands_path}/batch_id={batch_id}")
        )
        self._write_bloom(spark, sigs_new.select("id"), batch_id)
        # membership directory delta: every (cluster, bucket) this batch wrote
        (
            to_write.select("cluster_id", "bucket")
            .distinct()
            .withColumn("cbucket", self._bucket(F.col("cluster_id")))
            .write.mode("overwrite")
            .partitionBy("cbucket")
            .parquet(f"{self.clusterdir_path}/batch_id={batch_id}")
        )
        with_dyn = spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "static"
        )
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            # one task per bucket, so one data file per bucket dir: without
            # the exchange every task holding a bucket's rows writes a file
            to_write.repartition("bucket").write.mode("overwrite").partitionBy(
                "bucket"
            ).parquet(self.labels_path)
        finally:
            spark.conf.set(
                "spark.sql.sources.partitionOverwriteMode", with_dyn
            )
        fs_touch(spark, f"{self.commits_path}/batch_{batch_id}")
        for df in persists:
            df.unpersist()
        for bc in scratch_bcs:
            bc.unpersist()

        return assign.select(
            "id", "cluster_id", F.lit(batch_id).cast("long").alias("batch_id")
        )

    # -- the stream ------------------------------------------------------------

    def run_stream(
        self,
        input_dir: str,
        schema,
        output_dir: str,
        checkpoint_dir: str,
        id_col: str = "url",
        text_col: str = "text",
        max_files_per_trigger: int | None = None,
        available_now: bool = True,
        compact_every: int | None = 8,
    ):
        """readStream(parquet files) -> foreachBatch(process_batch) -> parquet
        append. available_now drains everything currently in input_dir and
        stops (the test/backfill mode); without it the query runs continuous
        micro-batches. compact_every folds state partitions into the sentinel
        after every K commits (inside foreachBatch, so never concurrent with
        a batch) — a long-lived stream self-bounds its state file count; pass
        None to manage compaction externally. Returns the StreamingQuery."""
        reader = self.spark.readStream.schema(schema)
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        stream = reader.parquet(input_dir)

        def _fb(batch_df: DataFrame, batch_id: int) -> None:
            out = self.process_batch(batch_df, batch_id, id_col, text_col)
            out.write.mode("append").parquet(output_dir)
            if compact_every and (batch_id + 1) % compact_every == 0:
                self.compact_state()

        writer = stream.writeStream.foreachBatch(_fb).option(
            "checkpointLocation", checkpoint_dir
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()
