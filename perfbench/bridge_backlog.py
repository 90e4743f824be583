"""bridge_backlog: the full userstream bridge (replay → redelivery dedup →
subscription join → reshape → per-client fan-out) draining a backlog of
small parquet files, one file per trigger.

Micro-batches are small, so per-batch fixed cost (planning, state-store
commit, offset and commit logs, the fan-out's shuffle and manifest)
dominates. Batch queries, the ``fsio`` stack and the indexes are bypassed.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import config, stats
from perfbench.harness import restart, warm_units
from perfbench.trace import now_ms, traced_callable

SHUFFLE_PARTITIONS = config.BRIDGE_SHUFFLE_PARTITIONS
PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")


def write_backlog(sf_dir: str, out_dir: str, rng: np.random.Generator) -> pa.Table:
    """Write the backlog files in arrival order and return the arrivals.

    Arrival order is ts order, except that a seeded share of events is
    delivered a second time, up to ``BRIDGE_REDELIVERY_MAX_LAG_S`` of event
    time after the original: inside the dedup watermark."""
    n_arrivals = config.BRIDGE_FILES * config.BRIDGE_EVENTS_PER_FILE
    n_orig = int(n_arrivals / (1.0 + config.BRIDGE_REDELIVERY_SHARE))
    events = pq.read_table(os.path.join(sf_dir, "events.parquet")).slice(0, n_orig)
    dups = np.sort(rng.choice(n_orig, n_arrivals - n_orig, replace=False))
    ts = events.column("ts").to_numpy().astype("datetime64[us]").astype(np.int64)
    lag = rng.integers(1, config.BRIDGE_REDELIVERY_MAX_LAG_S * 1_000_000, len(dups))
    keys = np.concatenate([ts, ts[dups] + lag])
    order = np.argsort(keys, kind="stable")
    arrivals = pa.concat_tables([events, events.take(dups)]).take(order)
    os.makedirs(out_dir)
    per = config.BRIDGE_EVENTS_PER_FILE
    for i in range(0, arrivals.num_rows, per):
        path = os.path.join(out_dir, f"part-{i // per:05d}.parquet")
        pq.write_table(arrivals.slice(i, per), path)
        # the file source replays in modification-time order
        os.utime(path, (1_700_000_000 + i // per, 1_700_000_000 + i // per))
    return arrivals


def subscriptions(rng: np.random.Generator) -> dict[int, str]:
    users = rng.choice(config.N_USERS, int(config.N_USERS * config.BRIDGE_SUBSCRIBED_SHARE), replace=False)
    clients = rng.integers(0, config.BRIDGE_CLIENTS, len(users))
    return {int(u): f"c{c:02d}" for u, c in zip(users, clients)}


def check_delivery(ctx, fan_dir: str, expected: dict[str, int], pass_id: str) -> int:
    """Delivered = distinct subscribed events, no id twice, and every
    client's stream in ts order across its committed files."""
    from twitter_event_stream_spark.streaming.pipelines import manifested_fanout_files

    ids: set[int] = set()
    dup_ids = 0
    per_client: dict[str, int] = defaultdict(int)
    ordered = True
    last_ts: dict[str, datetime] = {}
    for entry in manifested_fanout_files(fan_dir):
        client = entry["client_id"]
        with open(os.path.join(fan_dir, entry["path"]), encoding="utf-8") as f:
            for line in f:
                p = json.loads(line)
                ts = datetime.fromisoformat(p["created_at"])
                if client in last_ts and ts < last_ts[client]:
                    ordered = False
                last_ts[client] = ts
                dup_ids += p["id"] in ids
                ids.add(p["id"])
                per_client[client] += 1
    ctx.ledger.check(f"{pass_id}:delivered", dict(per_client) == expected,
                     f"{sum(per_client.values())} delivered vs {sum(expected.values())} expected")
    ctx.ledger.check(f"{pass_id}:unique_ids", dup_ids == 0, f"{dup_ids} ids delivered twice")
    ctx.ledger.check(f"{pass_id}:client_ts_order", ordered)
    return len(ids)


class Bridge:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.backlog = os.path.join(ctx.work, "backlog")
        arrivals = write_backlog(ctx.sf_dir, self.backlog, ctx.rng)
        self.subs = subscriptions(ctx.rng)
        first = {}
        for eid, uid in zip(arrivals.column("event_id").to_pylist(), arrivals.column("user_id").to_pylist()):
            if uid in self.subs:
                first.setdefault(eid, self.subs[uid])
        self.expected: dict[str, int] = defaultdict(int)
        for client in first.values():
            self.expected[client] += 1
        self.expected = dict(self.expected)
        self.arrivals = arrivals.num_rows

    def drain(self, pass_id: str) -> dict:
        """Drain the whole backlog with a fresh checkpoint and fan-out dir."""
        from twitter_event_stream_spark.streaming.pipelines import (
            bridge_pipeline,
            fanout_foreach_partition,
        )
        from twitter_event_stream_spark.streaming.replay import replay_stream

        ctx = self.ctx
        spark = ctx.spark
        ck = os.path.join(ctx.work, f"ck-{pass_id}")
        fan = os.path.join(ctx.work, f"fan-{pass_id}")
        subs = spark.createDataFrame(sorted(self.subs.items()), "user_id long, client_id string")
        handler = fanout_foreach_partition(fan)
        if ctx.traced:
            handler = traced_callable(ctx.tracer, handler, "fanout.handler")
        out = {"wall_s": 0.0, "batch_ms": [], "delivered": 0}
        with ctx.ledger.op(pass_id), ctx.tracer.span("drain", request=pass_id):
            lo = now_ms()
            t0 = time.perf_counter()
            q = (
                bridge_pipeline(replay_stream(spark, self.backlog, 1), subs, config.BRIDGE_WATERMARK)
                .writeStream.foreachBatch(handler)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            out["wall_s"] = time.perf_counter() - t0
            hi = now_ms()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            progress = list(q.recentProgress)
            data = [p for p in progress if (p.numInputRows or 0) > 0]
            out["batch_ms"] = [float(p.durationMs["triggerExecution"]) for p in data]
            if ctx.traced:
                self.record_layers(q, progress, lo, hi, fan)
            out["delivered"] = check_delivery(ctx, fan, self.expected, pass_id)
        return out

    def record_layers(self, q, progress, lo: float, hi: float, fan: str) -> None:
        layers = self.ctx.layers
        self.ctx.counts.record(str(q.runId), lo, hi, ops=len(progress))
        for p in progress:
            for phase in PHASES:
                layers[f"stream.{phase}_ms"] += float((p.durationMs or {}).get(phase, 0))
            for s in p.stateOperators or []:
                layers["state.rows_total"] = max(layers["state.rows_total"], float(s.numRowsTotal))
                layers["state.memory_bytes"] = max(layers["state.memory_bytes"], float(s.memoryUsedBytes))
                layers["state.commit_ms"] += float(s.commitTimeMs)
                layers["state.rows_dropped_by_watermark"] += float(s.numRowsDroppedByWatermark)
                layers["state.duplicates_dropped"] += float(
                    (s.customMetrics or {}).get("numDroppedDuplicateRows", 0)
                )
        from twitter_event_stream_spark.streaming.pipelines import manifested_fanout_files

        layers["fanout.files_written"] += len(manifested_fanout_files(fan))


def single_thread_drain(ctx, bridge: Bridge) -> float:
    """Delivered events/s of one drain on ``local[1]``: the single-thread
    baseline (traced runs only)."""
    ctx.spark = restart(ctx.spark, ctx.host, ctx.work, ctx.sf_dir,
                        shuffle_partitions=SHUFFLE_PARTITIONS, cores=1)
    with ctx.tracing_off():
        got = bridge.drain("local1")
    return got["delivered"] / got["wall_s"] if got["wall_s"] else 0.0


def run(ctx) -> dict:
    bridge = Bridge(ctx)
    cold = bridge.drain("d0")
    warm, untraced = warm_units(ctx, lambda k: bridge.drain(f"d{k}"), config.BRIDGE_MIN_WARM_DRAINS)
    batch_ms = [ms for d in warm for ms in d["batch_ms"]]
    drain_s = [d["wall_s"] for d in warm]
    delivered_per_s = [d["delivered"] / d["wall_s"] for d in warm if d["wall_s"]]
    if ctx.traced:
        ctx.layers["trace.overhead_share"] = stats.median(drain_s) / stats.median([d["wall_s"] for d in untraced]) - 1.0
        ctx.layers["bridge.single_thread_events_per_s"] = single_thread_drain(ctx, bridge)
    return {
        "cold_pass_s": cold["wall_s"],
        "op_fast_half_ms": stats.fast_half(batch_ms),
        "throughput_fast_half_per_s": stats.fast_half(delivered_per_s, higher_is_better=True),
        "detail": {
            "arrivals": bridge.arrivals,
            "delivered_per_drain": cold["delivered"],
            "warm_drain_s": stats.median(drain_s),
            "delivered_events_per_s": stats.median(delivered_per_s),
            "microbatch_p50_ms": stats.median(batch_ms),
            "microbatches": len(batch_ms),
            "microbatch_tail": stats.tail(batch_ms),
            "warm_drains": len(warm),
            "drain_s_samples": drain_s,
            "batch_ms_samples": batch_ms,
        },
    }
