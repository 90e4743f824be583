"""batch_mix: the nine graded query shapes, run as the driver runs them
(``fn(spark, sf_dir).collect()``), in a seeded order.

Every pass reads the fixture through a fresh symlink, so memos keyed on the
fixture path cannot serve a pass: the benchmark times the engine, not a
session cache. Streaming state and the ``fsio`` commit stack are bypassed.
"""

from __future__ import annotations

import os
import time

from perfbench import config, stats
from perfbench.harness import warm_units
from perfbench.trace import traced_collect


def query_fn(name: str):
    from twitter_event_stream_spark import registry

    if name == "knn_bench_query":
        from twitter_event_stream_spark.operators.vector_search import knn_bench_query

        return lambda spark, sf_dir: knn_bench_query(spark, sf_dir, config.KNN_PROBES)
    return registry.get(name).fn


def run_set(ctx, names, pass_id: str, results: dict | None) -> tuple[float, list[float]]:
    """One pass over ``names`` through a fresh alias of the fixture; returns
    (pass wall seconds, per-call seconds). ``results`` collects the first
    result of each query for the oracle check."""
    alias = os.path.join(ctx.work, f"alias-{pass_id}")
    os.symlink(ctx.sf_dir, alias)
    calls = []
    t_pass = time.perf_counter()
    for name in names:
        with ctx.ledger.op(f"{pass_id}:{name}"), ctx.tracer.span("query", request=pass_id):
            t0 = time.perf_counter()
            df, rows = traced_collect(ctx, f"{pass_id}:{name}", lambda: query_fn(name)(ctx.spark, alias))
            calls.append(time.perf_counter() - t0)
            if results is not None and name not in results:
                results[name] = (df.columns, rows)
    return time.perf_counter() - t_pass, calls


def check_oracles(ctx, results: dict) -> None:
    """HASH-contract queries must match their DuckDB oracle, compared in the
    engine-neutral canonical form."""
    from twitter_event_stream_spark import registry
    from twitter_event_stream_spark.parity import canon_rows, oracle_connection

    con = oracle_connection(ctx.sf_dir)
    try:
        for name, (columns, rows) in sorted(results.items()):
            if name == "knn_bench_query" or registry.get(name).oracle is None:
                continue
            rel = con.sql(registry.get(name).oracle)
            want = canon_rows(rel.columns, rel.fetchall())
            got = canon_rows(columns, [tuple(r) for r in rows])
            ctx.ledger.check(f"oracle:{name}", got == want,
                             f"spark {len(got)} rows vs oracle {len(want)}")
    finally:
        con.close()


def run(ctx) -> dict:
    queries = list(config.LIGHT_QUERIES)
    ctx.rng.shuffle(queries)
    results: dict = {}
    cold_s, _ = run_set(ctx, queries, "p0", results)
    warm, untraced = warm_units(
        ctx, lambda k: run_set(ctx, queries, f"p{k}", None),
        config.BATCH_MIN_WARM_PASSES, config.BATCH_WARMUP_PASSES,
    )
    check_oracles(ctx, results)
    passes = [s for s, _ in warm]
    calls = [c for _, cs in warm for c in cs]
    if untraced:
        ctx.layers["trace.overhead_share"] = stats.median(passes) / stats.median([s for s, _ in untraced]) - 1.0
    # each query's fast-half call time over the warm passes, then the
    # median over the queries
    fast_calls = [stats.fast_half(col) for col in zip(*(cs for _, cs in warm))]
    return {
        "cold_pass_s": cold_s,
        "op_fast_half_ms": stats.median(fast_calls) * 1000.0,
        "throughput_fast_half_per_s": stats.fast_half([len(queries) / s for s in passes], higher_is_better=True),
        "detail": {
            "cold_pass_s": cold_s,
            "light_pass_s": stats.median(passes),
            "query_p50_ms": stats.median(calls) * 1000.0,
            "warm_passes": len(passes),
            "query_calls": len(calls),
            "query_tail": stats.tail(calls),
        },
    }
