"""Shared pieces of the benchmark programs: run isolation, Spark start
and stop, the output fingerprint, process memory, and the run record.

Every run gets a fresh directory inside the checkout for TMPDIR,
SPARK_LOCAL_DIRS, the JVM temp dir and the SQL warehouse, and deletes
it afterwards. Engine state keyed on `tempfile.gettempdir()` (build-once
lakehouse side tables, staged stream inputs, the worker package zip)
therefore never carries over from one run, or one commit, to the next.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EXPECTED = os.path.join(HERE, "expected.json")
RUNS_DIR = os.path.join(HERE, "runs")
TMP_ROOT = os.path.join(ROOT, ".perfbench_tmp")


class SetupError(RuntimeError):
    """The checkout cannot run the benchmark (engine or data missing)."""


def import_engine() -> None:
    """Put the checkout root on sys.path and check the engine imports."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        import bigdata06_spark  # noqa: F401
    except ImportError as e:
        raise SetupError(f"the engine package is not importable from {ROOT}: {e}") from None


def data_dir(sf_dir: str | None) -> str:
    """The dataset directory: the argument, else the engine's default."""
    from bigdata06_spark.catalog import DEFAULT_SF_DIR, TABLES, table_path

    d = os.path.abspath(sf_dir or DEFAULT_SF_DIR)
    missing = [t for t in TABLES if not os.path.exists(table_path(d, t))]
    if missing:
        raise SetupError(f"dataset {d} lacks tables {missing}")
    return d


def sf_key(sf_dir: str) -> str:
    return os.path.basename(sf_dir.rstrip("/"))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class RunDir:
    """Fresh per-run temporary directory under the checkout, exported as
    TMPDIR and SPARK_LOCAL_DIRS; removed on exit."""

    def __init__(self, tag: str) -> None:
        self.path = os.path.join(TMP_ROOT, f"{tag}-{os.getpid()}-{uuid.uuid4().hex[:8]}")
        self.tmp = os.path.join(self.path, "tmp")
        self.local = os.path.join(self.path, "local")
        self.warehouse = os.path.join(self.path, "warehouse")

    def __enter__(self) -> "RunDir":
        for d in (self.tmp, self.local, self.warehouse):
            os.makedirs(d)
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.local
        tempfile.tempdir = None  # re-read TMPDIR
        return self

    def __exit__(self, *exc) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.path))
        except OSError:
            pass  # another run's directory is still there

    @staticmethod
    def remove_for(pid: int) -> None:
        """Remove the run directories of process `pid` (after it was
        killed and could not remove them itself)."""
        for d in glob.glob(os.path.join(TMP_ROOT, f"*-{pid}-*")):
            shutil.rmtree(d, ignore_errors=True)

    def spark_conf(self) -> dict[str, str]:
        return {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": self.warehouse,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp}",
        }


def start_spark(run_dir: RunDir, sf_dir: str):
    """The engine's session on local[nproc], with the run's directories."""
    from bigdata06_spark.session import get_spark

    os.environ["SPARK_GRAFT_SF_DIR"] = sf_dir
    spark = get_spark("perfbench", cores=nproc(), extra_conf=run_dir.spark_conf())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            out.append(int(d))
    return out


def descendants(pid: int | None = None) -> list[int]:
    todo, out = [pid or os.getpid()], []
    while todo:
        kids = _children(todo.pop())
        out += kids
        todo += kids
    return out


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait for every process
    the run started (the JVM and its Python workers) to end."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 20
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants():
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    for pid in _children(os.getpid()):
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def peak_rss_mb() -> float:
    """Summed VmHWM of this process and every live descendant (the JVM
    and the Python workers), in MiB."""
    total_kb = 0
    for pid in [os.getpid()] + descendants():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


# ------------------------------------------------------------ fingerprint


def fingerprint_df(df):
    """One aggregate over the whole output: row count plus the sum of a
    64-bit hash of every column of every row. The sum is order-
    insensitive, and hashing every column keeps Catalyst from pruning
    any of them (a bare count() would)."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[df[c] for c in df.columns]).cast("decimal(38,0)")
    return df.agg(F.count(F.lit(1)).alias("rows"),
                  F.coalesce(F.sum(h), F.lit(0).cast("decimal(38,0)")).alias("hash"))


def read_fingerprint(fp_df) -> dict:
    row = fp_df.collect()[0]
    return {"rows": int(row["rows"]), "hash": str(row["hash"])}


def load_expected(sf_dir: str) -> dict[str, dict]:
    with open(EXPECTED) as fh:
        return json.load(fh).get(sf_key(sf_dir), {})


# ------------------------------------------------------------ statistics


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3); quartiles need two values, else all = the value."""
    if len(xs) < 2:
        return (xs[0],) * 3 if xs else (float("nan"),) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def percentile(xs: list[float], p: float) -> float:
    """Nearest-rank percentile, 0 < p <= 100."""
    s = sorted(xs)
    return s[max(0, math.ceil(len(s) * p / 100) - 1)] if s else float("nan")


def tail_percentile(xs: list[float], p: float = 90.0, beyond: int = 10) -> tuple[float, float]:
    """(percentile, value): the p-th percentile if at least `beyond`
    samples lie above it, else the highest percentile that has `beyond`
    samples above it, else the median. (0, 0) without samples."""
    n = len(xs)
    if not n:
        return 0.0, 0.0
    q = float(max(50.0, min(p, math.floor(100 * (n - beyond) / n))))
    return q, percentile(xs, q)


# ------------------------------------------------------------ run record


def code_id() -> dict:
    """The git commit when the checkout is a repository, and always a
    content hash of the engine sources (checkouts need not be repos)."""
    commit = None
    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10, check=True).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "bigdata06_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return {"commit": commit, "engine_sha256": h.hexdigest()}


def load1() -> float:
    return os.getloadavg()[0]


def write_record(record: dict) -> str:
    d = os.path.join(RUNS_DIR, record["workload"])
    os.makedirs(d, exist_ok=True)
    name = (f"{time.strftime('%Y%m%dT%H%M%S')}-seed{record['seed']}"
            f"-trace{record['trace']}-{os.getpid()}.json")
    path = os.path.join(d, name)
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    return path
