"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload llm_pipeline --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout, on the engine's sf0.1 dataset (or
--sf-dir), on local[nproc] in this one process. A run:

1. sets up cold: imports the query registry, launches the JVM, starts
   the session and runs the workload's own set-up;
2. runs one cold pass (`first_pass_s`) and the workload's warm-up passes
   (workloads.WARMUP_PASSES), which are not counted, then measured passes until --seconds have passed
   since the first of them, at least three (`pass_s` is their median). A pass
   runs every op of the workload in a seeded order; each op is built,
   planned (executedPlan forced) and executed as one fingerprint
   aggregate, and the fingerprint is checked against the recorded one;
3. with --trace 1, runs the measured passes untraced and traced
   (U T T U ...) and reports the per-layer metrics of the traced ones
   plus `trace.overhead_ratio` (traced / untraced median pass wall);
4. stops its JVM and repeats the cold set-up of step 1 in a fresh
   process (`--setup-only`); `setup_s` is the median of the N_SETUPS
   cold set-ups (with two, their mean).

The last stdout line is one JSON object: correct, attempted, failed and
the metrics. A human-readable summary goes to stderr, and the full run
record (environment, samples, failures, spans) to perfbench/runs/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import harness as H
import tracing as TR
import workloads as W

#: cold set-ups per run: this process's own, then one per fresh process.
#: Each costs a JVM launch (5-10 s on 4 cores); a third would not leave
#: room in the benchmark's total time cap for a slower host.
N_SETUPS = 2
SETUP_TIMEOUT_S = 60
MIN_MEASURED = 3
#: traced runs alternate untraced and traced measured passes as U T T U,
#: so a remaining trend across passes cancels out of trace.overhead_ratio
MIN_MEASURED_TRACED = 4
MAX_MEASURED = 12


def _err(e: BaseException) -> str:
    lines = str(e).strip().splitlines()
    return f"{type(e).__name__}: {lines[0][:300] if lines else ''}"


class Bench:
    def __init__(self, args, run_dir: H.RunDir, sf_dir: str) -> None:
        self.args = args
        self.workload = args.workload
        self.n_warmup = W.WARMUP_PASSES[args.workload]
        self.run_dir = run_dir
        self.sf_dir = sf_dir
        self.tracer = TR.Tracer()
        self.spark = None
        self.attempted = 0
        self.failures: list[dict] = []
        self.expected = H.load_expected(sf_dir)
        self.plan_stats: dict[str, int] = {}
        # ingest_stream samples: (pass number, value)
        self.merges: list[tuple[int, float]] = []
        self.reads: list[dict] = []
        self.drains: list[tuple[int, float]] = []
        self.lake: dict[int, dict] = {}
        self.check_s: list[float] = []
        self.listener = None
        self.span_log: list[dict] = []
        self.op_walls: list[tuple[int, str, float]] = []

    # -------------------------------------------------------------- setup

    def fail(self, op: str, pass_no: int, cause: str) -> None:
        self.failures.append({"op": op, "pass": pass_no, "cause": cause})

    def setup(self) -> dict:
        """One cold set-up: registry import, JVM launch and session
        start, and the workload's own set-up."""
        t0 = time.perf_counter()
        from bigdata06_spark.queries import load_all_queries

        self.specs = load_all_queries()
        t = time.perf_counter()
        self.spark = H.start_spark(self.run_dir, self.sf_dir)
        session = time.perf_counter() - t
        self.spark.range(1000).count()
        self._workload_setup()
        return {"setup_s": time.perf_counter() - t0, "session.get_spark_s": session}

    def _workload_setup(self) -> None:
        if self.workload in W.QUERY_OPS:
            ops = W.QUERY_OPS[self.workload]
        else:
            ops = W.INGEST_DRAINS
            from bigdata06_spark import lakehouse as LH
            from bigdata06_spark.catalog import load_table

            self.base = os.path.join(self.run_dir.path, "base")
            LH.table_init(load_table(self.spark, "orders", self.sf_dir), self.base, W.ORDERS_KEY)
        missing = [op for op in ops if op not in self.specs or op not in self.expected]
        if missing:
            raise H.SetupError(f"ops without a registry entry or recorded fingerprint: {missing}")

    def _ingest_inputs(self) -> None:
        """Seeded change batches (input generation, outside every timer)."""
        import pyarrow.parquet as pq
        from bigdata06_spark.catalog import table_path

        orders = pq.read_table(table_path(self.sf_dir, "orders"))
        self.orders_cols = orders.column_names
        keys = orders.column(W.ORDERS_KEY).to_pylist()
        self.batches = W.make_batches(keys, self.args.seed)
        self.events_rows = pq.ParquetFile(table_path(self.sf_dir, "events")).metadata.num_rows

    def _ingest_expected(self) -> None:
        """Fingerprint of the table at every version, from a DuckDB replay
        of the batches (the checker; outside every timer)."""
        import duckdb
        from bigdata06_spark.catalog import table_path

        out = os.path.join(self.run_dir.path, "replay")
        os.makedirs(out)
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW orders AS SELECT * FROM '{table_path(self.sf_dir, 'orders')}'")
            for v, sql in enumerate(W.replay_sql(self.batches, self.orders_cols)):
                con.execute(f"COPY ({sql}) TO '{out}/v{v}.parquet' (FORMAT PARQUET)")
        finally:
            con.close()
        self.version_fp = [
            H.read_fingerprint(H.fingerprint_df(
                self.spark.read.parquet(f"{out}/v{v}.parquet").select(*self.orders_cols)))
            for v in range(len(self.batches) + 1)
        ]

    # -------------------------------------------------------------- ops

    def run_op(self, name: str, pass_no: int, traced: bool) -> float:
        """Build, plan, execute and check one registry op; its wall time."""
        tr = self.tracer
        tr.op = name
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with tr.span("op", op=name):
                with tr.span("queries.build"):
                    df = self.specs[name].fn(self.spark, self.sf_dir)
                fp_df = H.fingerprint_df(df)
                with tr.span("catalyst.plan"):
                    plan = fp_df._jdf.queryExecution().executedPlan()
                with tr.span("action"):
                    got = H.read_fingerprint(fp_df)
            wall = time.perf_counter() - t0
            self.op_walls.append((pass_no, name, wall))
            if got != self.expected[name]:
                self.fail(name, pass_no, f"fingerprint {got} != recorded {self.expected[name]}")
            if traced:
                lines = [ln for ln in plan.toString().splitlines() if ln.strip()]
                st = self.plan_stats
                st["nodes"] = st.get("nodes", 0) + len(lines)
                st["exchanges"] = st.get("exchanges", 0) + sum("Exchange" in ln for ln in lines)
            return wall
        except Exception as e:  # a failing op is counted and reported, never dropped
            self.fail(name, pass_no, _err(e))
            return time.perf_counter() - t0

    def query_pass(self, pass_no: int, traced: bool) -> float:
        t0 = time.perf_counter()
        for name in W.pass_order(W.QUERY_OPS[self.workload], self.args.seed, pass_no):
            self.run_op(name, pass_no, traced)
        return time.perf_counter() - t0

    # -------------------------------------------------------------- ingest

    def _reader(self, path: str, t0: float, stop: threading.Event, out: list) -> None:
        """Open-loop snapshot reader: read k is due at t0 + phase + k *
        interval and timed from when it was due, so a stall shows as
        latency of the reads queued behind it."""
        from bigdata06_spark import lakehouse as LH

        t0 += W.reader_phase(self.args.seed)
        k = 0
        while not stop.wait(max(0.0, t0 + k * W.READ_INTERVAL_S - time.perf_counter())):
            due = t0 + k * W.READ_INTERVAL_S
            rec = {"lag": time.perf_counter() - due}
            try:
                with self.tracer.span("reader.read", op=f"read{k}"):
                    v = LH.current_version(path)
                    with self.tracer.span("lakehouse.read_version"):
                        df = LH.read_version(self.spark, path, v)
                    rec["fp"] = H.read_fingerprint(H.fingerprint_df(df.select(*self.orders_cols)))
                rec["version"] = v
            except Exception as e:  # reported as a failed read
                rec["error"] = _err(e)
            rec["latency"] = time.perf_counter() - due
            out.append(rec)
            k += 1

    def ingest_pass(self, pass_no: int, traced: bool) -> float:
        from bigdata06_spark import lakehouse as LH
        from bigdata06_spark.catalog import load_table

        tr = self.tracer
        path = os.path.join(self.run_dir.path, f"lh{pass_no}")
        shutil.copytree(self.base, path)  # every pass starts from the base state
        reads: list[dict] = []
        stop = threading.Event()
        t0 = time.perf_counter()
        reader = threading.Thread(target=self._reader, args=(path, t0, stop, reads),
                                  name="reader")
        reader.start()
        cdf = None
        try:
            for i, b in enumerate(self.batches, start=1):
                self.attempted += 1
                tr.op = f"merge{i}"
                try:
                    upd, dele, ins = W.batch_frames(load_table(self.spark, "orders", self.sf_dir), b)
                    a = time.perf_counter()
                    with tr.span("lakehouse.merge", op=f"merge{i}"):
                        v = LH.merge(self.spark, path, W.ORDERS_KEY, updates=upd,
                                     delete_keys=dele, inserts=ins)
                    self.merges.append((pass_no, time.perf_counter() - a))
                    if v != i:
                        self.fail(f"merge{i}", pass_no, f"committed version {v}, expected {i}")
                except Exception as e:
                    self.fail(f"merge{i}", pass_no, _err(e))
            self.attempted += 1
            tr.op = "read_changes"
            try:
                with tr.span("lakehouse.read_changes", op="read_changes"):
                    cdf = LH.read_changes(self.spark, path, 0, len(self.batches))
                    H.read_fingerprint(H.fingerprint_df(cdf))
            except Exception as e:
                cdf = None
                self.fail("read_changes", pass_no, _err(e))
            for name in W.INGEST_DRAINS:
                self.drains.append((pass_no, self.run_op(name, pass_no, traced)))
            wall = time.perf_counter() - t0
        finally:
            stop.set()
            reader.join()
        t = time.perf_counter()
        self._check_ingest(pass_no, path, reads, cdf)
        self.check_s.append(time.perf_counter() - t)
        if traced:
            self.lake[pass_no] = self._lake_counters(path)
        shutil.rmtree(path, ignore_errors=True)
        for r in reads:
            r["pass"] = pass_no
        self.reads += reads
        return wall

    def _check_ingest(self, pass_no: int, path: str, reads: list[dict], cdf) -> None:
        """Outside the timed region: the final snapshot and every
        snapshot read against the DuckDB replay, and the change feed
        against the final snapshot."""
        from bigdata06_spark import lakehouse as LH
        from pyspark.sql import functions as F

        n = len(self.batches)
        self.attempted += 1
        try:
            final = LH.read_version(self.spark, path, n).select(*self.orders_cols)
            got = H.read_fingerprint(H.fingerprint_df(final))
            if got != self.version_fp[n]:
                self.fail("final_snapshot", pass_no, f"fingerprint {got} != replay {self.version_fp[n]}")
        except Exception as e:
            self.fail("final_snapshot", pass_no, _err(e))
            final = None
        for k, r in enumerate(reads):
            self.attempted += 1
            if "error" in r:
                self.fail(f"read{k}", pass_no, r["error"])
            elif not 0 <= r["version"] <= n or r["fp"] != self.version_fp[r["version"]]:
                self.fail(f"read{k}", pass_no, f"version {r['version']} fingerprint {r['fp']} "
                          "matches no replayed version")
        if cdf is None or final is None:
            return
        # the feed holds every updated or inserted row exactly once, with
        # its post-image (plus the untouched rows of rewritten files)
        k = F.col(W.ORDERS_KEY)
        touched = None
        for b in self.batches:
            cond = k.between(b.upd_lo, b.upd_hi) | k.between(
                b.ins_lo + b.ins_offset, b.ins_hi + b.ins_offset)
            touched = cond if touched is None else touched | cond
        want = H.read_fingerprint(H.fingerprint_df(final.where(touched)))
        got = H.read_fingerprint(H.fingerprint_df(cdf.select(*self.orders_cols).where(touched)))
        if got != want:
            self.fail("read_changes", pass_no, f"changed rows in the feed {got} != snapshot {want}")

    def _lake_counters(self, path: str) -> dict:
        from bigdata06_spark import lakehouse as LH
        import pyarrow.parquet as pq

        added = removed = 0
        bytes_added = rows_added = 0
        prev = set(LH.files_at_version(path, 0))
        n = LH.current_version(path)
        for v in range(1, n + 1):
            cur = set(LH.files_at_version(path, v))
            new = cur - prev
            added += len(new)
            removed += len(prev - cur)
            for f in new:
                p = os.path.join(path, f)
                bytes_added += os.path.getsize(p)
                rows_added += pq.ParquetFile(p).metadata.num_rows
            prev = cur
        return {
            "lakehouse.commits": n,
            "lakehouse.files_added": added,
            "lakehouse.files_removed": removed,
            "lakehouse.bytes_added": bytes_added,
            "lakehouse.rewrite_amp": rows_added / (W.ROWS_CHANGED * len(self.batches)),
        }

    # -------------------------------------------------------------- passes

    def run(self) -> dict:
        """Set up, then run the cold, warm-up and measured passes."""
        rec: dict = {"load1_start": H.load1()}
        rec["setup"] = {k: [v] for k, v in self.setup().items()}
        if self.workload == "ingest_stream":
            t = time.perf_counter()
            self._ingest_inputs()
            self._ingest_expected()
            rec["replay_s"] = time.perf_counter() - t
        if self.args.trace:
            self.listener = TR.make_listener()
            self.spark.streams.addListener(self.listener)
        run_pass = self.ingest_pass if self.workload == "ingest_stream" else self.query_pass
        first = run_pass(0, False)
        warmup = [run_pass(p, False) for p in range(1, self.n_warmup + 1)]
        measured: list[tuple[bool, float]] = []
        layer_rows: list[dict] = []
        min_n = MIN_MEASURED_TRACED if self.args.trace else MIN_MEASURED
        t_start = time.perf_counter()
        while len(measured) < min_n or (
                time.perf_counter() - t_start < self.args.seconds and len(measured) < MAX_MEASURED):
            pass_no = self.n_warmup + 1 + len(measured)
            if self.args.trace and len(measured) % 4 in (1, 2):
                layer_rows.append(self._traced_pass(run_pass, pass_no))
                measured.append((True, layer_rows[-1]["_wall"]))
            else:
                measured.append((False, run_pass(pass_no, False)))
        rec["peak_rss_mb"] = H.peak_rss_mb()
        rec["load1_end"] = H.load1()
        rec["passes"] = {"first": first, "warmup": warmup, "measured": [w for _, w in measured],
                         "measured_traced": [t for t, _ in measured], "ops": self.op_walls}
        if self.workload == "ingest_stream":
            rec["ingest"] = self._ingest_metrics()
            rec["check_s"] = self.check_s
        if self.args.trace:
            layers = TR.median_of([{k: v for k, v in r.items() if k != "_wall"}
                                   for r in layer_rows])
            layers["trace.overhead_ratio"] = (
                statistics.median(w for t, w in measured if t)
                / statistics.median(w for t, w in measured if not t))
            layers["peak_rss_mb"] = rec["peak_rss_mb"]
            ingest = rec.get("ingest", {})
            layers.update({k: ingest.get(k, 0.0) for k in PER_LAYER_INGEST})
            rec["layers"] = layers
            rec["spans"] = self.span_log
        return rec

    def _traced_pass(self, run_pass, pass_no: int) -> dict:
        tr = self.tracer
        tr.spans, self.plan_stats = [], {}
        self.listener.drain(timeout=0.0)  # events of earlier passes
        before = TR.last_job_id(self.spark)
        tr.spark, tr.active = self.spark, True
        tr.patch()
        try:
            wall = run_pass(pass_no, True)
        finally:
            tr.unpatch()
            tr.active = False
        jobs = TR.read_jobs(self.spark, before)
        TR.attribute_jobs(jobs, tr.spans)
        jobs = [j for j in jobs if j["spans"]]  # not the output checks after the pass
        row = self._layer_metrics(pass_no, tr.spans, jobs)
        row.update(TR.streaming_metrics(self.listener.drain()))
        row["_wall"] = wall
        self.span_log += [dict(s, pass_no=pass_no) for s in tr.spans]
        return row

    def _layer_metrics(self, pass_no: int, spans: list[dict], jobs: list[dict]) -> dict:
        by_id = {s["id"]: s for s in spans}

        def jobs_under(name: str, exclude: str | None = None) -> list[dict]:
            out = []
            for j in jobs:
                names = {by_id[i]["name"] for i in j["spans"]}
                if name in names and (exclude is None or exclude not in names):
                    out.append(j)
            return out

        def total(js: list[dict], key: str) -> float:
            return float(sum(j[key] for j in js))

        m: dict[str, float] = {}
        cat = TR.outermost(spans, "catalog.load_table")
        m["catalog.load_table.calls"] = len(cat)
        m["catalog.load_table_s"] = TR.dur(cat)
        m["catalog.load_table.jobs"] = len(jobs_under("catalog.load_table"))
        m["queries.build_s"] = TR.dur(TR.outermost(spans, "queries.build"))
        m["queries.build.jobs"] = len(jobs_under("queries.build", exclude="catalog.load_table"))
        # operators mostly build lazy plans whose work runs in the op's
        # action, so a module is charged with every op that calls it:
        # the op's build, plan and action wall, and all its jobs but
        # the catalog's
        calls: dict[str, set[int]] = {}
        for s in spans:
            op = TR.ancestor(by_id, s, "op") if s["name"].startswith("operators.") else None
            if op is not None:
                calls.setdefault(s["name"], set()).add(op["id"])
        catalog = {id(j) for j in jobs_under("catalog.load_table")}
        for mod in W.OPERATOR_MODULES:
            name = f"operators.{mod}"
            ops = calls.get(name, set())
            m[f"{name}_s"] = TR.dur([by_id[i] for i in ops])
            m[f"{name}.jobs"] = sum(1 for j in jobs if ops & set(j["spans"]) and id(j) not in catalog)
        m["catalyst.plan_s"] = TR.dur(TR.outermost(spans, "catalyst.plan"))
        m["catalyst.exchanges"] = self.plan_stats.get("exchanges", 0)
        m["catalyst.plan_nodes"] = self.plan_stats.get("nodes", 0)
        action = TR.outermost(spans, "action")
        m["action_s"] = TR.dur(action)
        # the snapshot reader's job count follows its timing; keep the
        # spark.* counters to the pass's own ops so they repeat exactly
        own = [j for j in jobs if j not in jobs_under("reader.read")]
        m["spark.jobs"] = len(own)
        m["spark.stages"] = total(own, "stages")
        m["spark.tasks"] = total(own, "tasks")
        m["spark.executor_run_s"] = total(own, "run_ms") / 1e3
        m["spark.executor_cpu_s"] = total(own, "cpu_ns") / 1e9
        m["spark.gc_s"] = total(own, "gc_ms") / 1e3
        m["spark.shuffle_write_bytes"] = total(own, "shuffle_write")
        m["spark.shuffle_read_bytes"] = total(own, "shuffle_read")
        m["spark.spill_bytes"] = total(own, "spill")
        m["spark.input_bytes"] = total(own, "input")
        action_wall = TR.dur(action)
        m["spark.slot_busy_ratio"] = (
            total(jobs_under("action"), "run_ms") / 1e3 / (action_wall * H.nproc())
            if action_wall else 0.0)
        merges = TR.outermost(spans, "lakehouse.merge")
        m["lakehouse.merge_s"] = TR.dur(merges)
        m["lakehouse.merge.calls"] = len(merges)
        m["lakehouse.conflicts"] = sum(
            1 for f in self.failures
            if f["pass"] == pass_no and "CommitConflictError" in f["cause"])
        for key in ("commits", "files_added", "files_removed", "bytes_added", "rewrite_amp"):
            m[f"lakehouse.{key}"] = 0.0
        m.update(self.lake.get(pass_no, {}))
        reads = TR.outermost(spans, "lakehouse.read_version")
        m["lakehouse.read_version_s"] = (
            statistics.median(s["end"] - s["start"] for s in reads) if reads else 0.0)
        m["lakehouse.read_changes_s"] = TR.dur(TR.outermost(spans, "lakehouse.read_changes"))
        m["streaming.run_to_table_s"] = TR.dur(TR.outermost(spans, "streaming.run_to_table"))
        return m

    def _ingest_metrics(self) -> dict:
        """Figures of the measured passes; the tail figures follow the
        rule of H.tail_percentile."""
        merges = [s for p, s in self.merges if p > self.n_warmup]
        reads = [r["latency"] for r in self.reads if r["pass"] > self.n_warmup]
        lags = [r["lag"] for r in self.reads if r["pass"] > self.n_warmup]
        drains = [s for p, s in self.drains if p > self.n_warmup]
        read_pct, read_tail = H.tail_percentile(reads)
        return {
            "merge_p50_s": statistics.median(merges) if merges else 0.0,
            "merge.samples": len(merges),
            "snapshot_read_p50_s": H.percentile(reads, 50) if reads else 0.0,
            "snapshot_read_p90_s": read_tail,
            "snapshot_read.pct": read_pct,
            "snapshot_read.samples": len(reads),
            "stream_rows_per_s": (self.events_rows * len(W.INGEST_DRAINS)
                                  / statistics.median(drains)) if drains else 0.0,
            "reader.lag_p90_s": H.tail_percentile(lags)[1],
        }


#: ingest_stream figures that the traced run reports as layer metrics
PER_LAYER_INGEST = ("merge_p50_s", "snapshot_read_p90_s", "snapshot_read.pct",
                    "snapshot_read.samples", "stream_rows_per_s", "reader.lag_p90_s")


def metric_units(trace: int) -> dict[str, str]:
    """name -> unit of the metrics BENCHMARK.json asks for in this mode."""
    with open(os.path.join(H.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def cold_setups(args, sf_dir: str, n: int) -> tuple[list[dict], list[str]]:
    """Run the cold set-up in n fresh processes, one after the other;
    their timings and the causes of any that failed."""
    out, errors = [], []
    cmd = [sys.executable, os.path.abspath(__file__), "--setup-only", "--workload", args.workload,
           "--seed", str(args.seed), "--sf-dir", sf_dir]
    for _ in range(n):
        proc = subprocess.Popen(cmd, cwd=H.ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                                text=True, start_new_session=True)
        try:
            stdout, stderr = proc.communicate(timeout=SETUP_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)  # the process and its JVM
            proc.communicate()
            H.RunDir.remove_for(proc.pid)
            errors.append(f"set-up process timed out after {SETUP_TIMEOUT_S} s")
            continue
        try:
            out.append(json.loads(stdout.strip().splitlines()[-1]))
        except (IndexError, ValueError):
            tail = stderr.strip().splitlines()[-1:] or [f"exit code {proc.returncode}"]
            errors.append(f"set-up process failed: {tail[0][:300]}")
    return out, errors


def finish(rec: dict) -> None:
    """The run's figures, once every set-up has been timed."""
    p, setup = rec["passes"], rec["setup"]
    untraced = [w for w, t in zip(p["measured"], p["measured_traced"]) if not t]
    rec["metrics"] = {
        "setup_s": statistics.median(setup["setup_s"]),
        "first_pass_s": p["first"],
        "pass_s": statistics.median(untraced),
        "peak_rss_mb": rec["peak_rss_mb"],
    }
    if "layers" in rec:
        rec["layers"]["session.get_spark_s"] = statistics.median(setup["session.get_spark_s"])


def summary(rec: dict) -> str:
    m = rec["metrics"]
    p = rec["passes"]
    q1, med, q3 = H.quartiles([w for w, t in zip(p["measured"], p["measured_traced"]) if not t])
    s1, smed, s3 = H.quartiles(rec["setup"]["setup_s"])
    lines = [
        f"perfbench {rec['workload']} seed={rec['seed']} trace={rec['trace']} "
        f"local[{rec['env']['local_width']}] load1 {rec['load1_start']:.2f}->{rec['load1_end']:.2f}",
        f"  setup_s       {smed:9.3f} s   q1 {s1:.3f} q3 {s3:.3f}  n={len(rec['setup']['setup_s'])}",
        f"  first_pass_s  {m['first_pass_s']:9.3f} s   n=1",
        f"  pass_s        {med:9.3f} s   q1 {q1:.3f} q3 {q3:.3f}  "
        f"n={len(p['measured']) - sum(p['measured_traced'])} (after {len(p['warmup'])} warm-up)",
        f"  peak_rss_mb   {m['peak_rss_mb']:9.1f} MB",
        f"  ops_failed_ratio {rec['failed']}/{rec['attempted']}",
    ]
    ing = rec.get("ingest")
    if ing:
        lines += [
            f"  merge_p50_s   {ing['merge_p50_s']:9.3f} s   n={ing['merge.samples']}",
            f"  snapshot_read_p90_s {ing['snapshot_read_p90_s']:9.3f} s (taken at p{ing['snapshot_read.pct']:g}; "
            f"median {ing['snapshot_read_p50_s']:.3f})  n={ing['snapshot_read.samples']}",
            f"  stream_rows_per_s {ing['stream_rows_per_s']:11.1f} 1/s",
            f"  reader.lag_p90_s {ing['reader.lag_p90_s']:9.3f} s",
        ]
    if "layers" in rec:
        zero = sorted(k for k, v in rec["layers"].items() if not v)
        lines.append(f"  layer metrics reading 0: {', '.join(zero) or 'none'}")
    for f in rec["failures"]:
        lines.append(f"  FAILED {f['op']} (pass {f['pass']}): {f['cause']}")
    return "\n".join(lines)


def setup_only(args, sf_dir: str) -> int:
    """--setup-only: one cold set-up; prints its timings as JSON."""
    with H.RunDir(f"setup-{args.workload}") as run_dir:
        bench = Bench(args, run_dir, sf_dir)
        try:
            times = bench.setup()
        except H.SetupError as e:
            print(f"perfbench: cannot run: {e}", file=sys.stderr)
            return 2
        finally:
            H.stop_spark(bench.spark)
    print(json.dumps(times), flush=True)
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=W.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir", default=None, help="dataset directory (default: the engine's)")
    ap.add_argument("--setup-only", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    try:
        H.import_engine()
        sf_dir = H.data_dir(args.sf_dir)
        units = metric_units(args.trace)
    except (H.SetupError, OSError) as e:
        print(f"perfbench: cannot run: {e}", file=sys.stderr)
        return 2
    if args.setup_only:
        return setup_only(args, sf_dir)
    with H.RunDir(args.workload) as run_dir:
        bench = Bench(args, run_dir, sf_dir)
        try:
            rec = bench.run()
            rec["env"] = {
                **H.code_id(), "nproc": H.nproc(), "local_width": H.nproc(),
                "spark": bench.spark.version, "python": sys.version.split()[0],
                "java": bench.spark._jvm.System.getProperty("java.version"),
                "sf_dir": sf_dir,
            }
        except H.SetupError as e:
            print(f"perfbench: cannot run: {e}", file=sys.stderr)
            return 2
        finally:
            H.stop_spark(bench.spark)
    setups, errors = cold_setups(args, sf_dir, N_SETUPS - 1)
    for k in rec["setup"]:
        rec["setup"][k] += [t[k] for t in setups]
    for i, cause in enumerate(errors):
        bench.fail("setup", i, cause)
    finish(rec)
    rec.update(workload=args.workload, seed=args.seed, trace=args.trace,
               seconds=args.seconds, attempted=bench.attempted + N_SETUPS - 1,
               failed=len({(f["op"], f["pass"]) for f in bench.failures}),
               failures=bench.failures)
    path = H.write_record(rec)
    print(summary(rec), file=sys.stderr)
    print(f"  record: {os.path.relpath(path, H.ROOT)}", file=sys.stderr)
    values = rec["layers"] if args.trace else rec["metrics"]
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    print(json.dumps({"correct": not rec["failures"], "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
