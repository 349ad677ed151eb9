"""Dedup benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload crawl_mix --seed 1 --seconds 25 --trace 0

Run from the repository root. The last line of standard output is one JSON
object {correct, attempted, failed, metrics}. With --trace 0 the metrics are
the end-to-end ones (BENCHMARK.json "end_to_end"); with --trace 1 a separate
traced run reports the per-layer ones ("per_layer"). METRICS.md says what
each metric measures and which layer should move which end-to-end number.

Workloads (sizes fit a 4-core box inside the benchmark's run budget), both
through the flagship ``dataflow.dedupe_clusters``:
  crawl_mix           the default synthetic crawl mix (exact, near, substring
                      and boilerplate families)
  templated_families  part of the mix plus large families of templated
                      near-duplicates, so the pair chain carries the work
The traced run also drives the durable ``pipeline.DedupePipeline`` (with a
resume) and one ``streaming.IncrementalDedupe`` micro-batch.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(ROOT, "fuzzy_dedupe_pipeline_spark")
sys.path.insert(0, ROOT)

WORKLOADS = {
    "crawl_mix": {"mix_docs": 2000},
    "templated_families": {"mix_docs": 200, "families": 5, "family_size": 100},
}
# incremental path in the traced run: a base store, then one micro-batch
STREAM_BASE_DOCS = 100
STREAM_BATCH_DOCS = 100
# timed calls per run, at the least: two calls in one process differed by up
# to 28%, so a lone call would carry that into the median
MIN_CALLS = 2
# output checks: the north rule's dup-pair recall, and the same bar for
# precision against the planted families
MIN_RECALL = 0.99
MIN_PRECISION = 0.99
# stages whose outputs are removed before the resume, simulating a crash
# after verification
RESUME_DROPPED = ["06_members", "07_clusters"]


def _prepare_env(work: str) -> int:
    """Size the session to the box and keep every file inside ``work``.
    Must run before the JVM starts. Returns the core count."""
    cores = len(os.sched_getaffinity(0))
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap_mb = min(4096, phys // 4 // 2**20)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{heap_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in [ROOT, os.environ.get("PYTHONPATH", "")] if p
    )
    return cores


def _engine_hash() -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(ENGINE)):
        if name.endswith(".py"):
            with open(os.path.join(ENGINE, name), "rb") as f:
                h.update(name.encode() + b"\0" + f.read())
    return h.hexdigest()[:16]


class Run:
    """One benchmark run: a session, a corpus, checks and measurements."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        from fuzzy_dedupe_pipeline_spark.config import DEFAULT_CONFIG

        self.name = workload
        self.sizes = WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.cfg = DEFAULT_CONFIG
        self.attempted = 0
        self.failed = 0
        self.quality: list[tuple[float, float]] = []
        self.event_dir = os.path.join(work, "events")
        self.spark = None

    # -- session -------------------------------------------------------------

    def start_session(self, cores: int) -> float:
        from fuzzy_dedupe_pipeline_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.trace:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.event_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", cores=cores, extra_conf=conf)
        return time.perf_counter() - t0

    def stop(self) -> None:
        """Stop the SparkContext, then the JVM, and wait for it to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — never leave the JVM behind
                proc.kill()
                proc.wait()

    # -- checks ----------------------------------------------------------------

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED: {what}", file=sys.stderr, flush=True)
        return ok

    def check_quality(self, rows: list, what: str) -> None:
        """Recall of the oracle's true pairs and precision against the
        planted families, over the pairs the output co-clusters."""
        import pandas as pd

        out = pd.DataFrame(rows, columns=["url", "cluster_id"])
        co = out.merge(out, on="cluster_id")
        co = co[co.url_x < co.url_y]
        found = set(zip(co.url_x, co.url_y))
        tp = set(zip(self.corpus.true_pairs.url1, self.corpus.true_pairs.url2))
        recall = len(tp & found) / len(tp) if tp else 1.0
        fam = dict(zip(self.corpus.truth.url, self.corpus.truth.family_id))
        inside = sum(1 for a, b in found if fam[a] >= 0 and fam[a] == fam[b])
        precision = inside / len(found) if found else 1.0
        self.quality.append((recall, precision))
        self.check(
            len(out) == self.corpus.n_docs and out.url.is_unique,
            f"{what}: {len(out)} rows for {self.corpus.n_docs} docs",
        )
        self.check(
            recall >= MIN_RECALL and precision >= MIN_PRECISION,
            f"{what}: recall {recall:.4f} precision {precision:.4f}",
        )

    # -- entry points ----------------------------------------------------------

    def session_call(self, docs, **kw) -> list:
        from fuzzy_dedupe_pipeline_spark.dataflow import dedupe_clusters

        out = dedupe_clusters(self.spark, docs, self.cfg, **kw)
        return [tuple(r) for r in out.select("url", "cluster_id").collect()]

    def durable_call(self, docs, out_dir: str, run_id: str):
        from fuzzy_dedupe_pipeline_spark.pipeline import DedupePipeline

        pipe = DedupePipeline(self.spark, out_dir, self.cfg, run_id=run_id)
        rows = [tuple(r) for r in pipe.run(docs).select("url", "cluster_id").collect()]
        return rows, pipe

    # -- the run -----------------------------------------------------------------

    def run(self, cores: int) -> dict:
        import pyspark
        from workloads import corpus

        start_s = self.start_session(cores)
        self.corpus = corpus(self.name, self.seed, self.sizes)
        # the schema is known: no footer-reading job before the warm-up
        docs = self.spark.read.schema("url string, text string").parquet(self.corpus.path)
        # warm-up on the full corpus, so the timed calls run the plans and
        # JIT-compiled code of the same input. Its output is the reference
        # the other calls and paths must reproduce.
        t0 = time.perf_counter()
        self.reference = self.session_call(docs)
        warmup_s = time.perf_counter() - t0
        self.check_quality(self.reference, "warm-up dedupe_clusters")
        self.record = {
            "workload": self.name,
            "seed": self.seed,
            "nproc": cores,
            "loadavg": os.getloadavg(),
            "pyspark": pyspark.__version__,
            "java": self.spark._jvm.java.lang.System.getProperty("java.version"),
            "engine_sha256": _engine_hash(),
            "docs": self.corpus.n_docs,
            "true_pairs": len(self.corpus.true_pairs),
        }
        if self.trace:
            metrics = self.traced(docs)
            metrics["session.start_s"] = (start_s, "s")
            metrics["session.warmup_s"] = (warmup_s, "s")
        else:
            metrics = self.timed(docs)
            metrics["setup_s"] = (start_s + warmup_s, "s")
        return metrics

    def timed(self, docs) -> dict:
        """End-to-end: repeat the flagship call for the window."""
        walls: list[float] = []
        t_begin = time.perf_counter()
        while True:
            try:
                t0 = time.perf_counter()
                rows = self.session_call(docs)
                wall = time.perf_counter() - t0
            except Exception:  # noqa: BLE001 — counted as a failure; ends the window
                traceback.print_exc()
                self.check(False, "dedupe_clusters raised")
                break
            walls.append(wall)
            self.check_quality(rows, "dedupe_clusters")
            # past the minimum, start another call only if it fits the window
            elapsed = time.perf_counter() - t_begin
            if len(walls) >= MIN_CALLS and elapsed + statistics.median(walls) > self.seconds:
                break
        self.record["walls_s"] = walls
        self.record["samples"] = len(walls)
        med = statistics.median(walls) if walls else float("inf")
        return {
            "docs_per_s": (self.corpus.n_docs / med, "docs/s"),
            "pair_recall": (min(q[0] for q in self.quality), "ratio"),
            "pair_precision": (min(q[1] for q in self.quality), "ratio"),
        }

    def traced(self, docs) -> dict:
        """Per-layer: an untraced flagship call, the traced layer walk, the
        durable path with a resume, and one incremental micro-batch. Spark's
        event log, on only in this run, is parsed after the session stops."""
        from layers import LAYERS, traced_dedupe
        from spans import Tracer, read_event_log, window_stats

        tracer = Tracer()
        with tracer.span("untraced"):
            plain = self.session_call(docs)
        self.check(set(plain) == set(self.reference), "repeat dedupe_clusters differs")
        with tracer.span("run"):
            walked, funnel = traced_dedupe(self.spark, docs, self.cfg, tracer)
        self.check(set(walked) == set(plain), "traced walk != dedupe_clusters")
        m: dict[str, tuple] = {k: (v, _funnel_unit(k)) for k, v in funnel.items()}
        self.record["untraced_call_s"] = tracer.get("untraced").seconds
        self.record["layer_walk_s"] = tracer.get("run").seconds
        m["run.trace_overhead_s"] = (
            self.record["layer_walk_s"] - self.record["untraced_call_s"],
            "s",
        )
        m.update(self.traced_durable(docs, tracer))
        m.update(self.traced_streaming(tracer))

        self.stop()
        log = read_event_log(self.event_dir)
        u = tracer.get("untraced")
        whole = window_stats(log, u.start_ms, u.end_ms)
        m["run.jobs"] = (whole["jobs"], "count")
        m["run.driver_gap_s"] = (whole["driver_gap_s"], "s")
        for layer in LAYERS:
            sp = tracer.get(layer)
            st = window_stats(log, sp.start_ms, sp.end_ms)
            m[f"{layer}.self_s"] = (sp.seconds, "s")
            for k, unit in [
                ("jobs", "count"),
                ("tasks", "count"),
                ("shuffle_write_bytes", "bytes"),
                ("spill_bytes", "bytes"),
                ("task_peak_mem_bytes", "bytes"),
                ("task_skew", "ratio"),
            ]:
                m[f"{layer}.{k}"] = (st[k], unit)
            m[f"{layer}.rows_out"] = (sp.counts["rows_out"], "count")
        b = tracer.get("streaming.batch")
        st = window_stats(log, b.start_ms, b.end_ms)
        m["streaming.jobs_per_batch"] = (st["jobs"], "count")
        m["streaming.shuffle_bytes_per_batch"] = (st["shuffle_write_bytes"], "bytes")
        m["streaming.input_bytes_per_batch"] = (st["input_bytes"], "bytes")
        return m

    def traced_durable(self, docs, tracer) -> dict:
        from fuzzy_dedupe_pipeline_spark.pipeline import STAGES

        out_dir = os.path.join(self.work, "durable")
        rows, pipe = self.durable_call(docs, out_dir, "full")
        self.check(set(rows) == set(self.reference), "durable != dedupe_clusters")
        table = pipe.metrics.read()
        walls = {
            r["stage"]: r["duration_ms"] / 1000.0
            for r in table.filter("partition_id = -1 AND status = 'success'").collect()
        }
        m = {
            f"pipeline.{st}.wall_s": (walls.get(st, 0.0), "s")
            for st in STAGES
            if st != "00_url_dedup"  # off unless url_tier=True
        }
        m["metrics.rows_written"] = (table.count(), "count")
        size, files = _tree_size(out_dir)
        m["pipeline.bytes_written"] = (size, "bytes")
        m["pipeline.files_written"] = (files, "count")
        for st in RESUME_DROPPED:
            shutil.rmtree(os.path.join(out_dir, st))
        with tracer.span("pipeline.resume") as sp:
            rows, pipe = self.durable_call(docs, out_dir, "resume")
        self.check(
            set(rows) == set(self.reference) and pipe.recomputed == RESUME_DROPPED,
            f"resume recomputed {pipe.recomputed}",
        )
        m["pipeline.resume_s"] = (sp.seconds, "s")
        return m

    def traced_streaming(self, tracer) -> dict:
        """A base store, then one micro-batch of unseen docs; the final labels
        must equal dedupe_clusters(with_substring=False) over the same docs."""
        import pandas as pd
        from fuzzy_dedupe_pipeline_spark.streaming import IncrementalDedupe

        pages = pd.read_parquet(self.corpus.path)
        base = pages.iloc[:STREAM_BASE_DOCS]
        batch = pages.iloc[STREAM_BASE_DOCS : STREAM_BASE_DOCS + STREAM_BATCH_DOCS]
        state = os.path.join(self.work, "state")
        inc = IncrementalDedupe(self.spark, state, self.cfg)
        inc.process_batch(self.spark.createDataFrame(base), batch_id=0).collect()
        bytes0, _ = _tree_size(state)
        batch_df = self.spark.createDataFrame(batch)
        with tracer.span("streaming.batch"):
            inc.process_batch(batch_df, batch_id=1).collect()
        bytes1, files = _tree_size(state)
        got = {tuple(r) for r in self.spark.read.parquet(inc.labels_path).select("id", "cluster_id").collect()}
        both = self.spark.createDataFrame(pd.concat([base, batch]))
        want = set(self.session_call(both, with_substring=False))
        self.check(got == want, "incremental labels != dedupe_clusters(with_substring=False)")
        return {
            "streaming.state_bytes_written_per_batch": (bytes1 - bytes0, "bytes"),
            "streaming.state_files": (files, "count"),
        }


def _funnel_unit(name: str) -> str:
    return "ratio" if name.endswith("ratio") else "count"


def _tree_size(path: str) -> tuple[int, int]:
    """(bytes, files) under path."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += 1
    return size, files


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    # fail before any work when the engine is not beside the benchmark
    import fuzzy_dedupe_pipeline_spark  # noqa: F401

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    run = None
    try:
        cores = _prepare_env(work)
        run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
        metrics = run.run(cores)
    finally:
        if run is not None:
            run.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"record": run.record}))
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
