#!/usr/bin/env python3
"""Summarize or compare sets of benchmark result records.

    python3 perfbench/compare.py RESULTS_DIR            # spread of one set
    python3 perfbench/compare.py BASE_DIR CHANGE_DIR    # change vs base

A results directory holds the JSON records that perfbench/run.py writes to
``.perfbench/results/`` (copy it away between sets). Only untraced records
are read. For each workload and end-to-end metric the summary gives the
median, the quartile spread (Q3 - Q1) as a share of the median, and the
sample count. A comparison gives the change of the median as a share of the
base median and whether it is within the metric's bound in BENCHMARK.json.

Records are compared only when their stamps agree on the machine and
settings (cores, RAM, Spark and Python versions, driver memory, local-dir
filesystem); otherwise the script refuses and exits with code 2.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ENV_KEYS = ("nproc", "mem_gib", "spark", "python", "driver_mem", "local_dir_fs")


def load(d: str) -> list[dict]:
    recs = []
    for p in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(p) as f:
            rec = json.load(f)
        if rec.get("trace") == 0:
            recs.append(rec)
    return recs


def env(rec: dict) -> tuple:
    return tuple(rec["stamp"].get(k) for k in ENV_KEYS)


def spread(values: list[float]) -> float:
    med = statistics.median(values)
    if len(values) < 2 or not med:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / abs(med)


def by_workload(recs: list[dict]) -> dict:
    out: dict = {}
    for rec in recs:
        for name, m in rec["result"]["metrics"].items():
            out.setdefault(rec["workload"], {}).setdefault(name, []).append(m["value"])
    return out


def main(argv: list[str]) -> int:
    if len(argv) not in (1, 2):
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = {m["name"]: m for m in json.load(f)["end_to_end"]}
    sets = [load(d) for d in argv]
    envs = {env(r) for recs in sets for r in recs}
    if len(envs) > 1:
        print("refusing: result stamps differ on the machine or settings:",
              file=sys.stderr)
        for e in sorted(envs, key=str):
            print("  " + json.dumps(dict(zip(ENV_KEYS, e))), file=sys.stderr)
        return 2
    base = by_workload(sets[0])
    change = by_workload(sets[1]) if len(sets) == 2 else None
    worse = 0
    for wl in sorted(base):
        for name, m in spec.items():
            a = base[wl].get(name, [])
            if not a:
                continue
            line = (f"{wl:14s} {name:16s} median={statistics.median(a):.6g} "
                    f"spread={spread(a):.3f} n={len(a)}")
            if change is not None:
                b = change.get(wl, {}).get(name, [])
                if b:
                    ma, mb = statistics.median(a), statistics.median(b)
                    delta = (mb - ma) / abs(ma) if ma else 0.0
                    loss = delta if m["better"] == "lower" else -delta
                    ok = loss <= m["bound"]
                    worse += not ok
                    line += (f" | change median={mb:.6g} spread={spread(b):.3f} "
                             f"n={len(b)} delta={delta:+.3f} "
                             f"{'ok' if ok else 'WORSE than bound'} {m['bound']}")
            elif name != "setup_s" and spread(a) > m["bound"] / 3:
                line += f"  (spread above a third of the bound {m['bound']})"
            print(line)
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
