#!/usr/bin/env python3
"""Compare benchmark records.

    python3 perfbench/compare.py A.jsonl [B.jsonl ...]

Each file is one set of records (``run.py`` appends every run to
``.perfbench/records/<workload>.jsonl``; copy or split those files to
form sets). For every set and workload it prints each end-to-end
metric's median and quartiles over the untraced runs, and each
workload's own per-kind metrics the same way. With two or more sets it
also prints every later set's median as a share of the first set's, and
flags shares worse than the metric's bound in ``BENCHMARK.json``.

Records from different hosts (nproc, memory, CPU model, Spark, Java or
Python version) are refused: their numbers are not comparable.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import HOST_KEYS  # noqa: E402


def load(path: str) -> list[dict]:
    out = []
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                out.append(json.loads(line))
    return out


def quart(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def bounds() -> dict[str, float]:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}


def summarize(records: list[dict]) -> dict:
    """workload -> metric -> list of values, over correct untraced runs."""
    out: dict[str, dict[str, list[float]]] = {}
    for r in records:
        if r.get("trace") or not r.get("correct"):
            continue
        m = out.setdefault(r["workload"], {})
        for k, v in r["end_to_end"].items():
            m.setdefault(k, []).append(v["value"])
        for k, v in (r.get("named") or {}).items():
            if v is not None:
                m.setdefault(f"named.{k}", []).append(v)
    return out


def main(argv: list[str]) -> int:
    if not argv or argv[0] in ("-h", "--help"):
        print(__doc__)
        return 0 if argv else 2
    sets = [(p, load(p)) for p in argv]
    hosts = {tuple(r["host"].get(k) for k in HOST_KEYS)
             for _, recs in sets for r in recs}
    if len(hosts) > 1:
        print("refusing to compare records from different hosts:",
              file=sys.stderr)
        for h in sorted(hosts, key=str):
            print("  " + ", ".join(f"{k}={v}" for k, v in zip(HOST_KEYS, h)),
                  file=sys.stderr)
        return 1
    bound = bounds()
    sums = [(p, summarize(recs)) for p, recs in sets]
    workloads = sorted({w for _, s in sums for w in s})
    worse = 0
    for w in workloads:
        print(f"\n== {w}")
        names = sorted({k for _, s in sums for k in s.get(w, {})},
                       key=lambda k: (k.startswith("named."), k))
        print(f"{'metric':34} {'set':>4} {'n':>3} {'q1':>11} {'median':>11} "
              f"{'q3':>11} {'iqr/med':>8} {'vs set 0':>9}")
        for k in names:
            base = None
            for i, (_, s) in enumerate(sums):
                xs = s.get(w, {}).get(k)
                if not xs:
                    continue
                q1, q2, q3 = quart(xs)
                rel = ""
                if i == 0:
                    base = q2
                elif base:
                    share = q2 / base - 1
                    flag = ""
                    if k in bound and share > bound[k]:
                        flag, worse = " !", worse + 1
                    rel = f"{share:+.3f}{flag}"
                print(f"{k:34} {i:>4} {len(xs):>3} {q1:>11.4g} {q2:>11.4g} "
                      f"{q3:>11.4g} {(q3 - q1) / q2:>8.3f} {rel:>9}")
    for i, (p, recs) in enumerate(sets):
        bad = sum(1 for r in recs if not r.get("correct"))
        print(f"\nset {i}: {p} ({len(recs)} records, {bad} not correct)")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
