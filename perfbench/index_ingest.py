"""index_ingest: writes beside reads on both persisted indexes.

A seeded half of ``documents`` and ``embeddings`` seeds a SimHash index and
an IVF index; the rest arrives as interleaved dedup-gated doc batches and
vector batches, with probes of both indexes after every round, then one
maintenance pass. This drives the ``fsio`` lease / generation / manifest
stack; batch queries and the streaming bridge are bypassed.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.parquet as pq

from perfbench import config, stats
from perfbench.datagen import doc_text, permuted_copy
from perfbench.harness import warm_units
from perfbench.trace import job_group, now_ms, traced_callable, traced_collect

PLANTED_ID0 = 1_000_000
PROBE_ID0 = 2_000_000


class Index:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        rng = ctx.rng
        docs = pq.read_table(os.path.join(ctx.sf_dir, "documents.parquet"), columns=["doc_id", "text"]).to_pandas()
        vecs = pq.read_table(os.path.join(ctx.sf_dir, "embeddings.parquet"), columns=["vec_id", "embedding"]).to_pandas()
        d_perm, v_perm = rng.permutation(len(docs)), rng.permutation(len(vecs))
        self.seed_docs = docs.iloc[np.sort(d_perm[: len(docs) // 2])]
        self.seed_vecs = vecs.iloc[np.sort(v_perm[: len(vecs) // 2])]
        self.new_docs = docs.iloc[d_perm[len(docs) // 2:]].reset_index(drop=True)
        self.new_vecs = vecs.iloc[v_perm[len(vecs) // 2:]].reset_index(drop=True)
        self.ivf = os.path.join(ctx.work, "ivf")
        self.sim = os.path.join(ctx.work, "simhash")
        self.out = os.path.join(ctx.work, "corpus")
        self.planted: set[int] = set()
        self.offered_docs = 0
        seed_texts = self.seed_docs["text"].tolist()
        probe_texts = [permuted_copy(seed_texts[int(i)], rng) if k % 2 == 0 else doc_text(rng)
                       for k, i in enumerate(rng.integers(0, len(seed_texts), config.PROBE_DOCS))]
        self.probe_docs = [(PROBE_ID0 + k, t) for k, t in enumerate(probe_texts)]
        pv = rng.standard_normal((config.PROBE_VECTORS, config.EMBED_DIM)).astype(np.float32)
        pv /= np.linalg.norm(pv, axis=1, keepdims=True)
        self.probe_vecs = [(PROBE_ID0 + k, v.tolist()) for k, v in enumerate(pv)]

    def call(self, name: str, fn, *args, request: str):
        """One grouped call into the program; Spark counts attributed to it
        when traced."""
        ctx = self.ctx
        group = f"{request}:{name}"
        with job_group(ctx.spark, group):
            lo = now_ms()
            out = fn(*args)
            hi = now_ms()
        if ctx.traced:
            ctx.counts.record(group, lo, hi)
        return out

    def build(self) -> float:
        from twitter_event_stream_spark.operators import corpus_full, vector_search

        spark = self.ctx.spark
        t0 = time.perf_counter()
        with self.ctx.ledger.op("build"), self.ctx.tracer.span("index.build", request="build"):
            vecs = spark.createDataFrame(self.seed_vecs, "vec_id long, embedding array<float>")
            self.call("write_ivf_index", vector_search.write_ivf_index, spark, vecs, self.ivf,
                      config.IVF_CELLS, request="build")
            docs = spark.createDataFrame(self.seed_docs, "doc_id long, text string")
            self.call("write_simhash_index", corpus_full.write_simhash_index, spark, docs, self.sim,
                      request="build")
        return time.perf_counter() - t0

    def doc_batch(self, k: int):
        """The k-th arriving doc batch, a seeded share of it planted
        near-copies (same token bag) of seed docs."""
        rng = self.ctx.rng
        n = config.INGEST_DOCS_PER_BATCH
        n_planted = int(round(n * config.INGEST_PLANTED_SHARE))
        fresh = self.new_docs.iloc[k * (n - n_planted):(k + 1) * (n - n_planted)]
        rows = list(zip(fresh["doc_id"].tolist(), fresh["text"].tolist()))
        seed_texts = self.seed_docs["text"].tolist()
        for j in range(n_planted):
            doc_id = PLANTED_ID0 + k * n + j
            rows.append((doc_id, permuted_copy(seed_texts[int(rng.integers(0, len(seed_texts)))], rng)))
            self.planted.add(doc_id)
        self.offered_docs += len(rows)
        return self.ctx.spark.createDataFrame(rows, "doc_id long, text string")

    def vec_batch(self, k: int):
        n = config.INGEST_VECTORS_PER_BATCH
        part = self.new_vecs.iloc[k * n:(k + 1) * n]
        return self.ctx.spark.createDataFrame(part, "vec_id long, embedding array<float>")

    def ingest_round(self, k: int) -> dict:
        from twitter_event_stream_spark.streaming import pipelines

        ctx = self.ctx
        req = f"round-{k}"
        dedup = pipelines.dedup_ingest_batch(self.sim, self.out, config.INGEST_MAX_HAMMING)
        vector = pipelines.vector_ingest_batch(self.ivf)
        if ctx.traced:
            dedup = traced_callable(ctx.tracer, dedup, "ingest.dedup_handler")
            vector = traced_callable(ctx.tracer, vector, "ingest.vector_handler")
        docs, vecs = self.doc_batch(k), self.vec_batch(k)
        got = {"docs": config.INGEST_DOCS_PER_BATCH, "vectors": config.INGEST_VECTORS_PER_BATCH,
               "docs_s": 0.0, "vectors_s": 0.0, "wall_s": 0.0}
        with ctx.ledger.op(req), ctx.tracer.span("round", request=req):
            t0 = time.perf_counter()
            self.call("dedup_ingest", dedup, docs, k, request=req)
            t1 = time.perf_counter()
            self.call("vector_ingest", vector, vecs, k, request=req)
            t2 = time.perf_counter()
            got.update(docs_s=t1 - t0, vectors_s=t2 - t1, wall_s=t2 - t0)
        return got

    def probe(self, req: str) -> tuple[float, list, list]:
        """One IVF top-k probe and one SimHash probe, each built and
        collected like a batch query."""
        from twitter_event_stream_spark.operators import corpus_full, vector_search

        ctx, spark = self.ctx, self.ctx.spark
        pv = spark.createDataFrame(self.probe_vecs, "vec_id long, embedding array<float>")
        pd_ = spark.createDataFrame(self.probe_docs, "doc_id long, text string")
        ivf_rows, sim_rows = [], []
        t0 = time.perf_counter()
        with ctx.ledger.op(req), ctx.tracer.span("probe", request=req):
            _, ivf_rows = traced_collect(
                ctx, f"{req}:ivf", lambda: vector_search.ivf_topk_indexed(spark, self.ivf, pv, config.PROBE_K)
            )
            _, sim_rows = traced_collect(
                ctx, f"{req}:simhash",
                lambda: corpus_full.dedup_against_index(spark, pd_, self.sim, config.INGEST_MAX_HAMMING),
            )
        return time.perf_counter() - t0, sorted(map(tuple, ivf_rows)), sorted(map(tuple, sim_rows))

    def check_ingest(self) -> None:
        from twitter_event_stream_spark.streaming.pipelines import read_ingest_rejects, read_ingested

        spark, ledger = self.ctx.spark, self.ctx.ledger
        with ledger.op("read_ingested"):
            published = read_ingested(spark, self.out).count()
            rejected = {r.doc_id for r in read_ingest_rejects(spark, self.out).select("doc_id").collect()}
            ledger.check("offered=published+rejected", published + len(rejected) == self.offered_docs,
                         f"{published}+{len(rejected)} != {self.offered_docs}")
            missed = self.planted - rejected
            ledger.check("planted_rejected", not missed, f"{len(missed)} planted near-copies published")
            self.ctx.layers["ingest.published_share"] = published / self.offered_docs

    def maintenance(self) -> float:
        from twitter_event_stream_spark import fsio
        from twitter_event_stream_spark.operators import corpus_full, vector_search

        ctx, spark = self.ctx, self.ctx.spark
        if ctx.traced:
            ctx.layers["index.pending_batches"] = float(len(fsio.manifested_batch_ids(spark, f"{self.ivf}/ingest")))
            ctx.layers["index.data_files"] = float(
                fsio.data_file_count(spark, fsio.resolve_data_dir(spark, self.sim))
                + fsio.data_file_count(spark, f"{fsio.resolve_data_dir(spark, self.ivf)}/cells")
            )
        t0 = time.perf_counter()
        with ctx.ledger.op("maintenance"), ctx.tracer.span("maintenance", request="maintenance"):
            self.call("absorb", vector_search.absorb_ingested, spark, self.ivf, request="maintenance")
            self.call("compact_ivf", vector_search.compact_ivf_cells, spark, self.ivf, request="maintenance")
            self.call("compact_bands", corpus_full.compact_band_rows, spark, self.sim, request="maintenance")
            self.call("consolidate", fsio.consolidate_manifests, spark, self.out, 1, request="maintenance")
        return time.perf_counter() - t0


def setup(ctx) -> float:
    """Build both indexes; their build time counts as set-up."""
    ctx.state = Index(ctx)
    return ctx.state.build()


def rate(rounds: list[dict], key: str) -> float:
    secs = sum(r[f"{key}_s"] for r in rounds)
    return sum(r[key] for r in rounds) / secs if secs else 0.0


def run(ctx) -> dict:
    idx: Index = ctx.state
    probes: list[float] = []
    last: list = []

    def warm_round(k: int) -> dict:
        got = idx.ingest_round(k)
        secs, ivf_rows, sim_rows = idx.probe(f"probe-{k}")
        probes.append(secs)
        last[:] = [ivf_rows, sim_rows]
        return got

    cold = idx.ingest_round(0)
    warm, untraced = warm_units(ctx, warm_round, config.INGEST_MIN_WARM_ROUNDS)
    warm_probes = list(probes)
    idx.check_ingest()
    maintenance_s = idx.maintenance()
    secs, ivf_rows, sim_rows = idx.probe("probe-maintained")
    probes.append(secs)
    ctx.ledger.check("probe_stable_across_maintenance", last == [ivf_rows, sim_rows])
    round_s = [r["wall_s"] for r in warm]
    if untraced:
        ctx.layers["trace.overhead_share"] = (
            stats.median(round_s) / stats.median([r["wall_s"] for r in untraced]) - 1.0
        )
    return {
        "cold_pass_s": cold["wall_s"],
        "op_fast_half_ms": stats.fast_half(warm_probes) * 1000.0,
        "throughput_fast_half_per_s": stats.fast_half(
            [(r["docs"] + r["vectors"]) / r["wall_s"] for r in warm], higher_is_better=True
        ),
        "detail": {
            "rounds": 1 + len(warm) + len(untraced),
            "warm_round_s": stats.median(round_s),
            "ingest_docs_per_s": rate(warm, "docs"),
            "ingest_vectors_per_s": rate(warm, "vectors"),
            "probe_p50_ms": stats.median(probes) * 1000.0,
            "probes": len(probes),
            "probe_tail": stats.tail(probes),
            "maintenance_s": maintenance_s,
            "round_s_samples": round_s,
            "docs_s_samples": [r["docs_s"] for r in warm],
            "vectors_s_samples": [r["vectors_s"] for r in warm],
            "probe_s_samples": probes,
        },
    }
