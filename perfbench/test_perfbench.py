"""Self-tests of the benchmark.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import glob
import io
import json
import os
import re

import pytest

import compare
import harness as H
import run
import tracing as TR
import workloads as W

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def spec() -> dict:
    with open(os.path.join(H.ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


KEYS = list(range(1, 150001, 1)) + list(range(200001, 200500))


def test_batches_repeat_for_a_seed_and_differ_across_seeds():
    assert W.make_batches(KEYS, 7) == W.make_batches(KEYS, 7)
    assert W.make_batches(KEYS, 7) != W.make_batches(KEYS, 8)


def test_reader_phase_is_seeded_and_within_one_interval():
    assert W.reader_phase(7) == W.reader_phase(7)
    phases = {W.reader_phase(s) for s in range(20)}
    assert len(phases) == 20
    assert all(0.0 <= p < W.READ_INTERVAL_S for p in phases)


def test_batch_ranges_are_disjoint_and_exact():
    keys = sorted(KEYS)
    for seed in range(20):
        spans = []
        for b in W.make_batches(keys, seed):
            for lo, hi, n in ((b.upd_lo, b.upd_hi, W.UPDATE_KEYS),
                              (b.del_lo, b.del_hi, W.DELETE_KEYS),
                              (b.ins_lo, b.ins_hi, W.INSERT_KEYS)):
                assert sum(lo <= k <= hi for k in keys) == n
                spans.append((lo, hi))
            assert b.ins_lo + b.ins_offset > keys[-1]
        spans.sort()
        assert all(a[1] < b[0] for a, b in zip(spans, spans[1:]))


def test_pass_order_is_a_seeded_permutation():
    ops = W.LLM_PIPELINE
    assert sorted(W.pass_order(ops, 3, 1)) == sorted(ops)
    assert W.pass_order(ops, 3, 1) == W.pass_order(ops, 3, 1)
    assert len({tuple(W.pass_order(ops, 3, p)) for p in range(10)}) > 1


def test_every_workload_op_is_a_registry_query_with_an_oracle_and_a_fingerprint():
    H.import_engine()
    from bigdata06_spark.queries import load_all_queries

    specs = load_all_queries()
    with open(H.EXPECTED) as fh:
        expected = json.load(fh)
    for op in W.REGISTRY_OPS:
        assert op in specs, op
        assert specs[op].oracle, op
        for sf, fps in expected.items():
            assert op in fps, (sf, op)


def test_benchmark_json_metric_names_units_and_bounds():
    s = spec()
    assert [w["name"] for w in s["workloads"]] == list(W.WORKLOADS)
    for w in s["workloads"]:
        assert w["why"] and "\n" not in w["why"] and len(w["why"]) <= 200
    names = [m["name"] for m in s["end_to_end"] + s["per_layer"]]
    assert len(names) == len(set(names))
    for m in s["end_to_end"] + s["per_layer"]:
        assert NAME.match(m["name"]), m["name"]
        assert UNIT.match(m["unit"]), m["unit"]
        assert m["better"] in ("higher", "lower")
    for m in s["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in s["end_to_end"])


def test_every_layer_metric_names_the_end_to_end_metric_it_moves():
    for m in spec()["per_layer"]:
        assert W.layer_of_metric(m["name"]) is not None, m["name"]
    assert W.ZERO_WHEN_HEALTHY <= {m["name"] for m in spec()["per_layer"]}


def test_every_layer_metric_reads_nonzero_on_some_workload():
    """On the newest traced run of each listed workload in perfbench/runs/."""
    latest = {}
    for w in W.WORKLOADS:
        files = sorted(glob.glob(os.path.join(H.RUNS_DIR, w, "*-trace1-*.json")),
                       key=os.path.getmtime)
        if files:
            with open(files[-1]) as fh:
                latest[w] = json.load(fh)["layers"]
    if len(latest) < len(W.WORKLOADS):
        pytest.skip("needs a traced run (--trace 1) of every workload in perfbench/runs/")
    for m in spec()["per_layer"]:
        if m["name"] not in W.ZERO_WHEN_HEALTHY:
            assert any(layers.get(m["name"]) for layers in latest.values()), m["name"]


def _span(i, name, parent, wall, dur, thread="MainThread"):
    return {"id": i, "name": name, "op": "x", "parent": parent, "thread": thread,
            "wall": wall, "start": wall, "end": wall + dur}


def test_jobs_are_attributed_by_tag_then_by_time():
    spans = [_span(1, "op", None, 100.0, 10.0),
             _span(2, "queries.build", 1, 100.0, 5.0),
             _span(3, "catalog.load_table", 2, 101.0, 1.0),
             _span(4, "action", 1, 106.0, 3.0)]
    jobs = [{"tags": ["spark-session-a-thread-b-bd6s3", "spark-session-a-thread-b-bd6s2"],
             "submitted": 101.5},
            {"tags": [], "submitted": 107.0},
            {"tags": [], "submitted": 50.0}]
    TR.attribute_jobs(jobs, spans)
    assert jobs[0]["spans"] == [3, 2, 1]
    assert jobs[1]["spans"] == [4, 1]
    assert jobs[2]["spans"] == []


def test_operator_modules_are_charged_with_the_ops_that_call_them():
    # two ops: the first calls textops and dedup during its build, the
    # second only textops; the operators build lazily, so the jobs of the
    # first op's action are the dedup module's
    spans = [_span(1, "op", None, 0.0, 10.0),
             _span(2, "queries.build", 1, 0.0, 2.0),
             _span(3, "catalog.load_table", 2, 0.0, 0.5),
             _span(4, "operators.textops", 2, 0.5, 0.1),
             _span(5, "operators.dedup", 2, 0.7, 0.1),
             _span(6, "action", 1, 3.0, 7.0),
             _span(7, "op", None, 20.0, 4.0),
             _span(8, "queries.build", 7, 20.0, 1.0),
             _span(9, "operators.textops", 8, 20.0, 0.1)]
    jobs = [{"tags": [f"t-bd6s{i}"], "submitted": None} for i in (3, 5, 6, 6, 9)]
    TR.attribute_jobs(jobs, spans)
    for j in jobs:
        j.update(stages=1, tasks=1, run_ms=1, cpu_ns=1, gc_ms=0, shuffle_read=0,
                 shuffle_write=0, spill=0, input=0)
    bench = object.__new__(run.Bench)
    bench.plan_stats, bench.failures, bench.lake = {}, [], {}
    m = bench._layer_metrics(1, spans, jobs)
    assert m["operators.dedup_s"] == 10.0 and m["operators.dedup.jobs"] == 3
    assert m["operators.textops_s"] == 14.0 and m["operators.textops.jobs"] == 4
    assert m["operators.similarity_s"] == 0.0 and m["operators.similarity.jobs"] == 0
    assert m["catalog.load_table.jobs"] == 1


def test_outermost_skips_nested_spans_of_the_same_name():
    spans = [_span(1, "operators.dedup", None, 0.0, 4.0),
             _span(2, "operators.dedup", 1, 1.0, 1.0),
             _span(3, "operators.dedup", None, 5.0, 2.0)]
    assert [s["id"] for s in TR.outermost(spans, "operators.dedup")] == [1, 3]
    assert TR.dur(TR.outermost(spans, "operators.dedup")) == 6.0


def test_percentile_and_quartiles():
    xs = [float(i) for i in range(1, 11)]
    assert H.percentile(xs, 90) == 9.0
    assert H.percentile(xs, 50) == 5.0
    assert H.quartiles([2.0]) == (2.0, 2.0, 2.0)


def test_tail_percentile_keeps_ten_samples_beyond_it():
    def tail(n):
        return H.tail_percentile([float(i) for i in range(1, n + 1)])

    assert tail(200) == (90.0, 180.0)
    assert tail(100) == (90.0, 90.0)
    assert tail(40) == (75.0, 30.0)
    assert tail(12) == (50.0, 6.0)  # none has ten beyond it: the median
    assert H.tail_percentile([]) == (0.0, 0.0)


@pytest.fixture(scope="module")
def spark():
    pyspark = pytest.importorskip("pyspark")
    s = (pyspark.sql.SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false").getOrCreate())
    yield s
    s.stop()


def test_fingerprint_catches_a_one_row_perturbation(spark):
    rows = [(i, f"s{i}", i * 0.5) for i in range(50)]
    base = H.read_fingerprint(H.fingerprint_df(spark.createDataFrame(rows, "a long, b string, c double")))
    shuffled = H.read_fingerprint(H.fingerprint_df(
        spark.createDataFrame(rows[::-1], "a long, b string, c double")))
    assert shuffled == base  # order-insensitive
    changed = list(rows)
    changed[17] = (17, "s17", 8.5000001)
    assert H.read_fingerprint(H.fingerprint_df(
        spark.createDataFrame(changed, "a long, b string, c double"))) != base
    assert H.read_fingerprint(H.fingerprint_df(
        spark.createDataFrame(rows[1:], "a long, b string, c double"))) != base
    dup = rows + [rows[3]]
    assert H.read_fingerprint(H.fingerprint_df(
        spark.createDataFrame(dup, "a long, b string, c double"))) != base


def test_compare_lists_every_changed_deterministic_counter():
    def rec(trace, **layers):
        r = {"workload": "llm_pipeline", "trace": trace,
             "metrics": {"setup_s": 1.0, "first_pass_s": 2.0, "pass_s": 1.5}}
        if trace:
            r["layers"] = {"spark.jobs": 40, "catalyst.exchanges": 3,
                           "snapshot_read.samples": 7, "queries.build_s": 1.0, **layers}
        return r

    a = [rec(0), rec(1)]
    b = [rec(0), rec(1, **{"spark.jobs": 20, "snapshot_read.samples": 9,
                           "queries.build_s": 0.5})]
    changed = compare.compare(a, b, out=io.StringIO())
    assert [(n, x, y) for _, n, x, y in changed] == [("spark.jobs", 40, 20)]
