"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload bridge_backlog --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. The inputs are generated from ``--seed``
under ``.perfbench_work/`` and removed afterwards; traced runs keep their
spans in ``.perfbench_work/traces/``. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics untraced, the per-layer metrics with ``--trace 1``).
The line before it is a detail record with sample counts and the
workload's own figures.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
from collections import defaultdict
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import config, stats  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "op_fast_half_ms": "ms",
    "throughput_fast_half_per_s": "1/s",
}

FSIO_TRACED = (
    ("assert_no_maintenance", "assert_no_maintenance"),
    ("maintenance_generation", "maintenance_generation"),
    ("resolve_data_dir", "resolve_data_dir"),
    ("atomic_swap_dir", "atomic_swap_dir"),
    ("acquire_maintenance_lease", "lease_acquire"),
    ("release_maintenance_lease", "lease_release"),
)
INDEX_TRACED = (
    ("corpus_full", "write_band_rows", "index.write_band_rows"),
    ("corpus_full", "dedup_against_index", "index.dedup_against_index"),
    ("vector_search", "ivf_topk_indexed", "index.ivf_topk_indexed"),
    ("vector_search", "absorb_ingested", "index.absorb"),
    ("vector_search", "compact_ivf_cells", "index.compact"),
    ("corpus_full", "compact_band_rows", "index.compact"),
)
#: Span names whose self time is reported as ``<name>_ms``
#: (``operators.build_ms`` is inclusive: whatever module builds the frame).
SPAN_LAYERS = (
    "fanout.handler", "ingest.dedup_handler", "ingest.vector_handler",
    "index.write_band_rows", "index.dedup_against_index", "index.ivf_topk_indexed",
    "index.absorb", "index.compact",
) + tuple(f"fsio.{short}" for _, short in FSIO_TRACED)

PER_LAYER: dict[str, str] = {
    "session.start_ms": "ms",
    "tables.load_ms": "ms",
    "operators.build_ms": "ms",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.idle_gap_ms": "ms",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.task_retry_share": "share",
    "collect.transfer_ms": "ms",
    **{f"stream.{p}_ms": "ms" for p in (
        "latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")},
    "state.rows_total": "count",
    "state.memory_bytes": "bytes",
    "state.commit_ms": "ms",
    "state.rows_dropped_by_watermark": "count",
    "state.duplicates_dropped": "count",
    "fanout.handler_ms": "ms",
    "fanout.files_written": "count",
    "ingest.dedup_handler_ms": "ms",
    "ingest.vector_handler_ms": "ms",
    "ingest.published_share": "share",
    **{f"fsio.{short}_ms": "ms" for _, short in FSIO_TRACED},
    **{f"fsio.{short}.calls": "count" for _, short in FSIO_TRACED},
    "fsio.bytes_read": "bytes",
    "fsio.bytes_written": "bytes",
    "index.write_band_rows_ms": "ms",
    "index.dedup_against_index_ms": "ms",
    "index.ivf_topk_indexed_ms": "ms",
    "index.pending_batches": "count",
    "index.data_files": "count",
    "index.absorb_ms": "ms",
    "index.compact_ms": "ms",
    "bridge.single_thread_events_per_s": "1/s",
    "trace.overhead_share": "share",
    "trace.read_ms": "ms",
}


@dataclass
class Ctx:
    """What a workload needs: the session, its inputs and the recorders."""

    spark: object
    host: object
    work: str
    sf_dir: str
    seconds: float
    traced: bool
    tracer: object
    ledger: object
    rng: object
    counts: object = None
    layers: dict = field(default_factory=lambda: defaultdict(float))
    state: object = None

    @contextlib.contextmanager
    def tracing_off(self):
        """Run a unit exactly as an untraced run would."""
        traced = self.traced
        self.traced = self.tracer.enabled = False
        try:
            yield
        finally:
            self.traced = self.tracer.enabled = traced


def install_spans(tracer) -> None:
    from twitter_event_stream_spark import fsio
    from twitter_event_stream_spark.operators import corpus_full, vector_search
    from perfbench.trace import wrap_function

    modules = {"corpus_full": corpus_full, "vector_search": vector_search}
    for name, short in FSIO_TRACED:
        wrap_function(tracer, fsio, name, f"fsio.{short}")
    for mod, name, span in INDEX_TRACED:
        wrap_function(tracer, modules[mod], name, span)


def fs_bytes(spark) -> tuple[float, float]:
    """Bytes read and written through Hadoop's local file system."""
    stats_ = spark.sparkContext._jvm.org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics()
    got = stats_.get("file")
    if got is None:
        return 0.0, 0.0
    return float(got.getLong("bytesRead") or 0), float(got.getLong("bytesWritten") or 0)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("batch_mix", "bridge_backlog", "index_ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import importlib

    import numpy as np

    import twitter_event_stream_spark  # noqa: F401  (the program must be present)
    from perfbench import datagen
    from perfbench.harness import Host, Ledger, peak_rss_mb, prepare_env, setup_sessions, shutdown
    from perfbench.trace import SparkCounts, Tracer

    workload = importlib.import_module(f"perfbench.{args.workload}")
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    traced = args.trace == 1
    prepare_env(ROOT, work)
    host = Host.fit()
    sf_dir = os.path.join(work, "sf")
    datagen.generate(sf_dir, args.seed)
    tracer = Tracer(traced)
    if traced:
        install_spans(tracer)
    ledger = Ledger()
    spark = None
    try:
        spark, setups = setup_sessions(host, work, sf_dir, tracer,
                                       shuffle_partitions=getattr(workload, "SHUFFLE_PARTITIONS", None))
        ctx = Ctx(spark, host, work, sf_dir, args.seconds, traced, tracer, ledger,
                  np.random.default_rng(args.seed))
        if traced:
            ctx.counts = SparkCounts(spark)
            bytes0 = fs_bytes(spark)
        setup_extra = workload.setup(ctx) if hasattr(workload, "setup") else 0.0
        result = workload.run(ctx)
        spark = ctx.spark
        rss = peak_rss_mb(spark)
        if traced:
            bytes1 = fs_bytes(spark)
            ctx.layers["fsio.bytes_read"] = bytes1[0] - bytes0[0]
            ctx.layers["fsio.bytes_written"] = bytes1[1] - bytes0[1]
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)

    setup_s = stats.median([s + t for s, t in setups]) + setup_extra
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "host": {"cores": host.cores, "driver_mem_mb": host.driver_mem_mb, "pyspark": host.pyspark,
                 "bridge_shuffle_partitions": config.BRIDGE_SHUFFLE_PARTITIONS},
        "setup_repeats": len(setups),
        "setup_extra_s": setup_extra,
        "peak_rss_mb": rss,
        **result["detail"],
        "errors": ledger.errors[:5],
    }
    if traced:
        layers = ctx.layers
        layers["session.start_ms"] = stats.median([s for s, _ in setups]) * 1000.0
        layers["tables.load_ms"] = stats.median([t for _, t in setups]) * 1000.0
        layers.update(ctx.counts.per_op())
        layers["trace.read_ms"] = ctx.counts.read_s * 1000.0
        self_times, calls = tracer.self_times(), tracer.counts()
        for name in SPAN_LAYERS:
            layers[f"{name}_ms"] = self_times.get(name, 0.0) * 1000.0
        layers["operators.build_ms"] = tracer.durations().get("operators.build", 0.0) * 1000.0
        for _, short in FSIO_TRACED:
            layers[f"fsio.{short}.calls"] = float(calls.get(f"fsio.{short}", 0))
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        tracer.dump(os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.json"))
    else:
        values = {"setup_s": setup_s, "peak_rss_mb": rss, **result}
        detail["cold_pass_s"] = result["cold_pass_s"]
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
