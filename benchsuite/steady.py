#!/usr/bin/env python3
"""Steadiness check: run one workload N times, each in a fresh process
with its own seed, and print every metric's median, quartiles, spread and
largest deviation next to its BENCHMARK.json bound; or compare the
medians of two such sets.

    python3 benchsuite/steady.py --workload search-mix --runs 10 \\
        [--first-seed 1] [--trace 0] [--out set1.jsonl]
    python3 benchsuite/steady.py --compare set1.jsonl set2.jsonl

Run from the root of a checkout.  Spread is the distance between the
first and third quartile (``statistics.quantiles(values, n=4)``) as a
share of the median.  One rule, used here and in README.md: an
end-to-end metric is ``steady`` when its spread is under a third of its
bound, ``within`` when it is under the bound, ``WIDE`` otherwise
(``setup_s`` is held to the same rule, although a set is only rejected
on the others).  Two sets agree when, for every end-to-end metric, the
second median is not worse than the first by more than the bound.  Each
run's host stamp and result line are appended to ``--out`` (default
``.benchsuite_work/steady-<workload>.jsonl``).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def _spec() -> dict:
    with open("BENCHMARK.json") as f:
        return json.load(f)


def _load(path: str) -> dict[str, list[float]]:
    values: dict[str, list[float]] = {}
    with open(path) as f:
        for line in f:
            for name, m in json.loads(line)["metrics"].items():
                values.setdefault(name, []).append(m["value"])
    return values


def _verdict(spread: float, bound) -> str:
    if bound is None:
        return ""
    if spread < bound / 3:
        return "steady"
    return "within" if spread < bound else "WIDE"


def report(values: dict[str, list[float]], spec: dict) -> None:
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    print(f"{'metric':44s} {'median':>11s} {'q1':>11s} {'q3':>11s} "
          f"{'spread':>7s} {'maxdev':>7s} {'bound':>6s}")
    for name, vals in values.items():
        med = statistics.median(vals)
        q1, _q2, q3 = (statistics.quantiles(vals, n=4) if len(vals) > 1
                       else (vals[0],) * 3)
        spread = (q3 - q1) / med if med else 0.0
        maxdev = max(abs(v - med) for v in vals) / med if med else 0.0
        bound = bounds.get(name)
        print(f"{name:44s} {med:11.4g} {q1:11.4g} {q3:11.4g} "
              f"{spread:7.3f} {maxdev:7.3f} "
              f"{'' if bound is None else bound:>6}  "
              f"{_verdict(spread, bound)}")


def compare(path_a: str, path_b: str, spec: dict) -> bool:
    """Print each end-to-end metric's median-to-median change, signed so
    that positive is worse, next to its bound.  -> True when all agree."""
    a, b = _load(path_a), _load(path_b)
    print(f"{'metric':44s} {'median 1':>11s} {'median 2':>11s} "
          f"{'worse':>7s} {'bound':>6s}")
    agree = True
    for m in spec["end_to_end"]:
        name = m["name"]
        ma, mb = statistics.median(a[name]), statistics.median(b[name])
        worse = (mb - ma) / ma if ma else 0.0
        if m["better"] == "higher":
            worse = -worse
        ok = worse <= m["bound"]
        agree &= ok
        print(f"{name:44s} {ma:11.4g} {mb:11.4g} {worse:7.3f} "
              f"{m['bound']:>6}  {'ok' if ok else 'OVER'}")
    return agree


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2, metavar="SET_JSONL")
    args = ap.parse_args()
    spec = _spec()
    if args.compare:
        sys.exit(0 if compare(*args.compare, spec) else 1)
    if not args.workload:
        ap.error("--workload is required unless --compare is given")
    run_s = str(spec["run_seconds"])
    out_path = args.out or os.path.join(
        ".benchsuite_work", f"steady-{args.workload}.jsonl")
    os.makedirs(os.path.dirname(os.path.abspath(out_path)), exist_ok=True)

    values: dict[str, list[float]] = {}
    failures = 0
    for i in range(args.runs):
        seed = args.first_seed + i
        proc = subprocess.run(
            [*spec["command"], "--workload", args.workload, "--seed",
             str(seed), "--seconds", run_s, "--trace", str(args.trace)],
            capture_output=True, text=True,
        )
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            failures += 1
            print(f"seed {seed}: exit {proc.returncode}\n"
                  f"{proc.stderr[-2000:]}", file=sys.stderr)
            continue
        res = json.loads(lines[-1])
        host = json.loads(lines[-2]) if len(lines) > 1 else {}
        with open(out_path, "a") as f:
            f.write(json.dumps({"seed": seed, **host, **res}) + "\n")
        print(f"seed {seed}: correct={res['correct']} attempted="
              f"{res['attempted']} failed={res['failed']}", flush=True)
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])

    report(values, spec)
    if failures:
        sys.exit(1)


if __name__ == "__main__":
    main()
