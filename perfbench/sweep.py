"""Run the benchmark over several seeds, summarise, compare.

    python3 perfbench/sweep.py run --workload trickle_cow --seeds 1-10 --out A.json
    python3 perfbench/sweep.py compare A.json B.json
    python3 perfbench/sweep.py overhead UNTRACED.json TRACED.json

``run`` executes ``perfbench/run.py`` once per seed, one process at a
time, with ``run_seconds`` from ``BENCHMARK.json``, and prints each
metric's median and quartile spread ((q3 - q1) / median, quartiles as
``statistics.quantiles(values, n=4)`` gives them) next to a third of
its bound. ``compare`` reports the change in each metric's median
between two sweeps and refuses when their input fingerprints differ.
``overhead`` reports how much slower the traced runs were.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def parse_seeds(text: str) -> list[int]:
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def run_seeds(workload: str, seeds: list[int], trace: int) -> list[dict]:
    spec = bench_spec()
    records = []
    for seed in seeds:
        cmd = spec["command"] + [
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(spec["run_seconds"]), "--trace", str(trace),
        ]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        wall = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        record = next(
            (json.loads(ln.split(" ", 1)[1]) for ln in lines if ln.startswith("perfbench-record ")),
            {"workload": workload, "seed": seed, "error": proc.stderr[-2000:]},
        )
        record.update(exit_code=proc.returncode, wall_s=wall)
        records.append(record)
        res = record.get("result", {})
        print(f"seed {seed}: exit {proc.returncode} wall {wall:.0f}s correct={res.get('correct')} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res.get("metrics", {}).items()),
              flush=True)
    return records


def summary(records: list[dict]) -> dict[str, list[float]]:
    """Metric values per name: the result line's metrics, then the
    record's observed (ungated) figures."""
    values: dict[str, list[float]] = {}
    for r in records:
        for name, m in r.get("result", {}).get("metrics", {}).items():
            values.setdefault(name, []).append(m["value"])
        for name, v in r.get("observed", {}).items():
            values.setdefault(name, []).append(v)
    return values


def report(records: list[dict]) -> None:
    bounds = {m["name"]: m["bound"] for m in bench_spec()["end_to_end"]}
    for name, vals in summary(records).items():
        line = f"{name:24} n={len(vals):2} median={statistics.median(vals):.5g}"
        if len(vals) >= 2:
            line += f" spread={spread(vals):.3f}"
        if name in bounds:
            line += f" bound/3={bounds[name] / 3:.3f}"
        print(line)


def fingerprints(records: list[dict]) -> dict:
    return {(r["workload"], r["seed"]): r.get("inputs", {}).get("fingerprint") for r in records}


def compare(base: list[dict], change: list[dict]) -> int:
    fa, fb = fingerprints(base), fingerprints(change)
    if fa != fb:
        diff = sorted(k for k in set(fa) | set(fb) if fa.get(k) != fb.get(k))
        print(f"refused: input fingerprints differ for {diff}", file=sys.stderr)
        return 2
    spec = {m["name"]: m for m in bench_spec()["end_to_end"]}
    a, b = summary(base), summary(change)
    worse = 0
    for name in sorted(set(a) & set(b)):
        ma, mb = statistics.median(a[name]), statistics.median(b[name])
        rel = (mb - ma) / ma if ma else 0.0
        m = spec.get(name)
        flag = ""
        if m:
            regress = rel > m["bound"] if m["better"] == "lower" else rel < -m["bound"]
            flag = " REGRESSION" if regress else ""
            worse += bool(regress)
        print(f"{name:24} base={ma:.5g} change={mb:.5g} ({rel:+.1%}){flag}")
    return 1 if worse else 0


def overhead(untraced: list[dict], traced: list[dict]) -> None:
    """Traced runs keep their end-to-end numbers in the record; the
    difference of medians is the tracing overhead."""
    a = summary(untraced)
    b: dict[str, list[float]] = {}
    for r in traced:
        for name, v in r.get("end_to_end", {}).items():
            b.setdefault(name, []).append(v)
    for name in sorted(set(a) & set(b)):
        ma, mb = statistics.median(a[name]), statistics.median(b[name])
        print(f"{name:24} untraced={ma:.5g} traced={mb:.5g} ({(mb - ma) / ma:+.1%})")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", required=True)
    r.add_argument("--trace", type=int, default=0)
    r.add_argument("--out", required=True)
    c = sub.add_parser("compare")
    c.add_argument("base")
    c.add_argument("change")
    o = sub.add_parser("overhead")
    o.add_argument("untraced")
    o.add_argument("traced")
    args = ap.parse_args()

    def load(p):
        with open(p) as f:
            return json.load(f)

    if args.cmd == "run":
        records = run_seeds(args.workload, parse_seeds(args.seeds), args.trace)
        with open(args.out, "w") as f:
            json.dump(records, f)
        report(records)
        return 0 if all(r["exit_code"] == 0 for r in records) else 1
    if args.cmd == "compare":
        return compare(load(args.base), load(args.change))
    overhead(load(args.untraced), load(args.traced))
    return 0


if __name__ == "__main__":
    sys.exit(main())
