"""Summarise one set of benchmark runs, or compare two side by side.

    python3 perfbench/compare.py RUNS_A [RUNS_B]

Each argument is a directory of run records (perfbench/runs/ or a copy
of it; searched recursively). For every workload the untraced runs give
each end-to-end figure's median, quartiles and sample count per side,
with its unit, and the ratio of the medians; the traced runs give the
deterministic counters (jobs per layer, exchanges, plan nodes, shuffle
bytes, commits, files rewritten), and every counter whose median
differs between the sides is listed. Counters do not inflate with host
load, so that list is the load-independent part of the comparison.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys

import harness as H

#: load-independent per-layer counters (units count/bytes), minus the
#: ones that depend on timing
NOT_DETERMINISTIC = {"snapshot_read.samples", "lakehouse.conflicts"}


def load_runs(d: str) -> list[dict]:
    out = []
    for p in sorted(glob.glob(os.path.join(d, "**", "*.json"), recursive=True)):
        with open(p) as fh:
            rec = json.load(fh)
        if isinstance(rec, dict) and "workload" in rec and "metrics" in rec:
            out.append(rec)
    return out


def spec() -> dict:
    with open(os.path.join(H.ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def e2e_values(rec: dict) -> dict[str, float]:
    vals = dict(rec["metrics"])
    vals.update({k: v for k, v in rec.get("ingest", {}).items() if isinstance(v, (int, float))})
    return vals


def fmt(xs: list[float]) -> str:
    if not xs:
        return "-"
    q1, med, q3 = H.quartiles(xs)
    return f"{med:.4g} [{q1:.4g}, {q3:.4g}] n={len(xs)}"


def unit_of(name: str, units: dict[str, str]) -> str:
    if name in units:
        return units[name]
    return "count" if name.endswith(".samples") else "s"


def compare(a: list[dict], b: list[dict], out=sys.stdout) -> list[tuple[str, str, float, float]]:
    s = spec()
    e2e = [m["name"] for m in s["end_to_end"]]
    units = {m["name"]: m["unit"] for m in s["end_to_end"] + s["per_layer"]}
    counters = [m["name"] for m in s["per_layer"]
                if m["unit"] in ("count", "bytes") and m["name"] not in NOT_DETERMINISTIC]
    changed = []
    both = bool(a and b)
    for wl in sorted({r["workload"] for r in a + b}):
        print(f"== {wl}", file=out)
        ua = [e2e_values(r) for r in a if r["workload"] == wl and not r["trace"]]
        ub = [e2e_values(r) for r in b if r["workload"] == wl and not r["trace"]]
        names = e2e + sorted({k for r in ua + ub for k in r} - set(e2e))
        head = f"  {'metric':<24}{'unit':<6}{'A median [q1, q3]':>38}"
        print(head + (f"{'B median [q1, q3]':>38}    B/A" if both else ""), file=out)
        for n in names:
            xa = [r[n] for r in ua if n in r]
            xb = [r[n] for r in ub if n in r]
            line = f"  {n:<24}{unit_of(n, units):<6}{fmt(xa):>38}"
            if both:
                ratio = (statistics.median(xb) / statistics.median(xa)
                         if xa and xb and statistics.median(xa) else float("nan"))
                line += f"{fmt(xb):>38}  {ratio:5.3f}"
            print(line, file=out)
        ta = [r["layers"] for r in a if r["workload"] == wl and r["trace"]]
        tb = [r["layers"] for r in b if r["workload"] == wl and r["trace"]]
        if not both:
            continue
        if not (ta and tb):
            print("  (counters need traced runs on both sides)", file=out)
            continue
        diff = []
        for n in counters:
            ma = statistics.median(r.get(n, 0) for r in ta)
            mb = statistics.median(r.get(n, 0) for r in tb)
            if ma != mb:
                diff.append((wl, n, ma, mb))
        for _, n, ma, mb in diff:
            print(f"  counter changed: {n}: {ma:g} -> {mb:g}", file=out)
        if not diff:
            print("  deterministic counters: unchanged", file=out)
        changed += diff
    return changed


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("runs_a")
    ap.add_argument("runs_b", nargs="?")
    args = ap.parse_args(argv)
    a = load_runs(args.runs_a)
    b = load_runs(args.runs_b) if args.runs_b else []
    if not a or (args.runs_b and not b):
        print("compare: no run records found", file=sys.stderr)
        return 2
    compare(a, b)
    return 0


if __name__ == "__main__":
    sys.exit(main())
