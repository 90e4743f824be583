"""Every knob of the benchmark: query lists, input sizes, batch sizes,
subscription shape and the Spark settings it fits to the host.

The benchmark owns these values; it imports nothing from ``bench.py``, so
a change to the graded surface cannot silently change what this measures.
"""

from __future__ import annotations

#: Row counts of the generated fixture — the shape of the sf0.1 tables the
#: engine is graded on (TPC-H-like star schema, an event stream, a text
#: corpus and a 64-dim embedding table).
TABLE_ROWS: dict[str, int] = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
#: Users of the event stream (``user_id`` domain).
N_USERS = 1_500
#: Share of generated documents that are near-copies of an earlier one.
DOC_NEAR_DUP_SHARE = 0.05
EMBED_DIM = 64

#: batch_mix, light set: the nine BASELINE query shapes. The knn row is the
#: vectorized brute-force form with 100 probes, as the graded bench runs it.
LIGHT_QUERIES: tuple[str, ...] = (
    "q_agg_basic",
    "q_join_broadcast",
    "q_topk_per_group",
    "q_window_tumbling",
    "q_join_anti",
    "q_sort_limit",
    "q_agg_count_distinct",
    "q_llm_textstats",
    "knn_bench_query",
)
KNN_PROBES = 100
#: Warm passes: unmeasured warm-up passes after the cold one, then the
#: passes always measured, even when ``--seconds`` runs out first.
BATCH_WARMUP_PASSES = 1
BATCH_MIN_WARM_PASSES = 3

#: bridge_backlog: the backlog is ``events`` in ts order, cut into files of
#: this many events; one file per trigger.
BRIDGE_EVENTS_PER_FILE = 5_000
#: Files in the backlog; every drain replays all of them.
BRIDGE_FILES = 4
#: Share of events redelivered, each within the watermark of its original.
BRIDGE_REDELIVERY_SHARE = 0.01
BRIDGE_REDELIVERY_MAX_LAG_S = 300
BRIDGE_WATERMARK = "10 minutes"
#: Subscriptions cover this share of users, spread over this many clients.
BRIDGE_SUBSCRIBED_SHARE = 0.5
BRIDGE_CLIENTS = 32
#: Stateful streaming pins the state-store partition count at the first
#: checkpoint, so the bridge fixes it instead of inheriting the core count.
#: Four keeps a micro-batch's stateful stages to one wave of tasks on a
#: 4-core host.
BRIDGE_SHUFFLE_PARTITIONS = 4
#: Drains measured after the cold one, which is the warm-up.
BRIDGE_MIN_WARM_DRAINS = 3

#: index_ingest: the seeded half of documents/embeddings seeds the indexes,
#: the rest arrives in interleaved ingest batches of these sizes.
INGEST_DOCS_PER_BATCH = 125
INGEST_VECTORS_PER_BATCH = 100
#: Warm ingest rounds (one doc batch + one vector batch, then probes)
#: always measured after the cold round.
INGEST_MIN_WARM_ROUNDS = 3
#: Share of arriving docs that are planted near-copies of seed docs.
INGEST_PLANTED_SHARE = 0.08
INGEST_MAX_HAMMING = 3
#: Probes after each warm round and after maintenance: IVF top-k for this
#: many query vectors, and a SimHash check of this many docs (half of them
#: near-copies of seed docs).
PROBE_VECTORS = 20
PROBE_DOCS = 50
PROBE_K = 5
IVF_CELLS = 16

#: Set-ups timed per run; set-up time is their median.
SETUP_REPEATS = 3
#: Driver JVM heap, fixed (-Xms = -Xmx): the smaller of this and a
#: quarter of host RAM.
DRIVER_MEM_MAX_MB = 2048
