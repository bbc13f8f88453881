"""Workload definitions: which registry ops each workload runs, the
seeded pass order, and the seeded lakehouse change batches of
`ingest_stream` together with their DuckDB replay.

Nothing here starts Spark; the functions that need a session take it
as an argument, so the self-tests can import this module cheaply.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

#: LLM-data-pipeline queries that together call every operator module:
#: an iterative, driver-bound training loop (the perceptron fires a job
#: per step before the action; classifier + textops), a pandas-UDF
#: feature extractor feeding a brute-force k-NN (multimodal +
#: similarity), and a shuffle-bound exact near-duplicate grouping
#: (textops + dedup).
LLM_PIPELINE = (
    "text_classifier_train",
    "multimodal_feature_knn",
    "dedup_exact",
)

#: the streaming drain of `ingest_stream` (a registry query: its build
#: runs the availableNow replay into a memory sink)
INGEST_DRAINS = ("stream_tumbling_agg",)

#: the workloads BENCHMARK.json lists, in its order
WORKLOADS = ("llm_pipeline", "ingest_stream")

#: warm passes run after the cold one and not counted, while the JIT is
#: still compiling plan and codegen paths. Measured on 4 cores: the
#: perceptron op levels off after two warm passes, while the streaming
#: drain keeps getting faster for four.
WARMUP_PASSES = {"llm_pipeline": 2, "ingest_stream": 4}

QUERY_OPS = {"llm_pipeline": LLM_PIPELINE}

#: every registry op the benchmark runs (all must exist and carry an
#: oracle; see test_perfbench.py)
REGISTRY_OPS = LLM_PIPELINE + INGEST_DRAINS

#: the operator modules whose layer metrics the benchmark reports
OPERATOR_MODULES = ("dedup", "similarity", "classifier", "textops", "multimodal")

#: per-layer metric name prefix -> (end-to-end metric the layer should
#: move, the workload it moves it on). Every per-layer metric of
#: BENCHMARK.json has an entry (test_perfbench.py checks).
LAYER_MAP = {
    "session.": ("setup_s", "all"),
    "catalog.": ("pass_s", "both"),
    "queries.": ("pass_s", "llm_pipeline, with ingest_stream as the bypass"),
    "operators.": ("pass_s", "llm_pipeline"),
    "peak_rss_mb": ("(memory)", "llm_pipeline"),
    "catalyst.": ("first_pass_s, pass_s", "both"),
    "action_s": ("pass_s", "both"),
    "spark.": ("pass_s", "both"),
    "lakehouse.": ("pass_s via merge_p50_s and snapshot_read_p90_s",
                   "ingest_stream, with llm_pipeline as the bypass"),
    "merge_p50_s": ("pass_s", "ingest_stream"),
    "snapshot_read": ("pass_s", "ingest_stream"),
    "streaming.": ("pass_s via stream_rows_per_s", "ingest_stream"),
    "stream_rows_per_s": ("pass_s", "ingest_stream"),
    "reader.": ("(diagnostic: how late the open-loop reader ran)", "ingest_stream"),
    "trace.": ("(diagnostic: traced / untraced pass wall)", "all"),
}

#: per-layer metrics that read 0 on a healthy run of every workload: no
#: operator spills at sf0.1, and the single writer never conflicts
ZERO_WHEN_HEALTHY = {"spark.spill_bytes", "lakehouse.conflicts"}


def layer_of_metric(name: str) -> tuple[str, str] | None:
    for prefix, target in LAYER_MAP.items():
        if name.startswith(prefix):
            return target
    return None

#: ingest_stream sizing: merges per pass and the open-loop read rate
N_MERGES = 1
UPDATE_KEYS = 2000
DELETE_KEYS = 200
INSERT_KEYS = 100
#: rows one batch updates, deletes or inserts (the ranges are exact)
ROWS_CHANGED = UPDATE_KEYS + DELETE_KEYS + INSERT_KEYS
READ_INTERVAL_S = 1.0

ORDERS_KEY = "o_orderkey"


def reader_phase(seed: int) -> float:
    """Offset of the snapshot reader's first read from the start of a
    pass, drawn from the seed: the reader's phase against the writer."""
    return random.Random(f"reader:{seed}").uniform(0.0, READ_INTERVAL_S)


def pass_order(ops: tuple[str, ...], seed: int, pass_no: int) -> list[str]:
    """The op order of one pass: a permutation drawn from (seed, pass)."""
    order = list(ops)
    random.Random(f"{seed}:{pass_no}").shuffle(order)
    return order


@dataclass(frozen=True)
class Batch:
    """One `lakehouse.merge` change batch, as inclusive key ranges of
    the base `orders` table: rows in [upd_lo, upd_hi] get
    `o_totalprice + price_delta` and `o_orderpriority = priority`; rows
    in [del_lo, del_hi] are deleted; rows in [ins_lo, ins_hi] are
    re-inserted under the new keys `key + ins_offset`."""

    upd_lo: int
    upd_hi: int
    price_delta: float
    priority: str
    del_lo: int
    del_hi: int
    ins_lo: int
    ins_hi: int
    ins_offset: int


def make_batches(keys: list[int], seed: int, n: int = N_MERGES) -> list[Batch]:
    """Seeded change batches over the sorted distinct base keys. Update,
    delete and insert-source ranges of all batches lie in disjoint
    segments of the key order, so every batch touches live rows only
    and the replay is order-independent within a batch."""
    keys = sorted(keys)
    seg = ROWS_CHANGED
    n_segs = len(keys) // seg
    if n_segs < 2 * n:
        raise ValueError(f"{len(keys)} base keys are too few for {n} batches")
    rng = random.Random(seed)
    segs = rng.sample(range(n_segs), 2 * n)
    top = keys[-1]
    out = []
    for b in range(n):
        s_upd, s_other = segs[2 * b], segs[2 * b + 1]
        u0 = s_upd * seg + rng.randrange(seg - UPDATE_KEYS + 1)
        d0 = s_other * seg + rng.randrange(seg - DELETE_KEYS - INSERT_KEYS + 1)
        i0 = d0 + DELETE_KEYS
        out.append(Batch(
            upd_lo=keys[u0], upd_hi=keys[u0 + UPDATE_KEYS - 1],
            price_delta=round(rng.uniform(1.0, 500.0), 2),
            priority=rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM"]),
            del_lo=keys[d0], del_hi=keys[d0 + DELETE_KEYS - 1],
            ins_lo=keys[i0], ins_hi=keys[i0 + INSERT_KEYS - 1],
            ins_offset=(top + 1) * (b + 1),
        ))
    return out


def batch_frames(orders, b: Batch):
    """(updates, delete_keys, inserts) DataFrames of one batch, built
    from the base `orders` DataFrame."""
    from pyspark.sql import functions as F

    k = F.col(ORDERS_KEY)
    updates = (
        orders.where(k.between(b.upd_lo, b.upd_hi))
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(b.price_delta))
        .withColumn("o_orderpriority", F.lit(b.priority))
    )
    deletes = orders.where(k.between(b.del_lo, b.del_hi)).select(ORDERS_KEY)
    inserts = orders.where(k.between(b.ins_lo, b.ins_hi)).withColumn(
        ORDERS_KEY, k + F.lit(b.ins_offset))
    return updates, deletes, inserts


def replay_sql(batches: list[Batch], columns: list[str]) -> list[str]:
    """DuckDB SQL for the table state after 0..len(batches) merges,
    starting from the `orders` view. Element v is the snapshot of
    lakehouse version v."""
    cols = ", ".join(columns)
    cur = f"SELECT {cols} FROM orders"
    out = [cur]
    for v, b in enumerate(batches, start=1):
        upd_cols = ", ".join(
            f"o_totalprice + CAST({b.price_delta!r} AS DOUBLE) AS o_totalprice"
            if c == "o_totalprice" else
            f"'{b.priority}' AS o_orderpriority"
            if c == "o_orderpriority" else c
            for c in columns
        )
        ins_cols = ", ".join(
            f"{ORDERS_KEY} + {b.ins_offset} AS {ORDERS_KEY}" if c == ORDERS_KEY else c
            for c in columns
        )
        step = (
            f"SELECT {cols} FROM ({cur}) t WHERE NOT ({ORDERS_KEY} BETWEEN {b.upd_lo} AND {b.upd_hi}) "
            f"AND NOT ({ORDERS_KEY} BETWEEN {b.del_lo} AND {b.del_hi}) "
            f"UNION ALL SELECT {upd_cols} FROM ({cur}) t WHERE {ORDERS_KEY} BETWEEN {b.upd_lo} AND {b.upd_hi} "
            f"UNION ALL SELECT {ins_cols} FROM orders WHERE {ORDERS_KEY} BETWEEN {b.ins_lo} AND {b.ins_hi}"
        )
        cur = step
        out.append(step)
    return out

