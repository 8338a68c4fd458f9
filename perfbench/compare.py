#!/usr/bin/env python3
"""Summarise and compare saved benchmark runs.

    python3 perfbench/compare.py BASE.jsonl [NEW.jsonl]

Each file holds the standard output of one or more runs of run.py (a
detail line followed by a result line per run). For every metric it
prints the median over runs and the spread (inter-quartile range over
median, as statistics.quantiles(n=4) gives it); with two files also the
ratio of the medians, NEW over BASE.

Determinism check: runs of one workload and seed, in either file, must
report the same landing-data checksum and the same operation order for
every pass they share.

Refuses to compare runs from different hosts: the host fingerprint (nproc,
MemTotal, CPU model, Java and Spark versions) must match, and the SHA-256
CPU yardstick medians must agree within 15 %.
"""
import json
import statistics
import sys

IDENTITY = ("nproc", "mem_total_kb", "cpu_model", "java", "spark")


def load(path):
    runs, detail = [], None
    for line in open(path):
        line = line.strip()
        if not line.startswith("{"):
            continue
        rec = json.loads(line)
        if "perfbench" in rec:
            detail = rec["perfbench"]
        elif "metrics" in rec and detail is not None:
            runs.append((detail, rec))
            detail = None
    if not runs:
        sys.exit(f"{path}: no runs found")
    return runs


def host(runs, path):
    ids = {tuple(d["host"][k] for k in IDENTITY) for d, _ in runs}
    if len(ids) != 1:
        sys.exit(f"{path}: runs come from more than one host: {sorted(ids)}")
    yard = statistics.median(d["host"]["sha256_st_mbs"] for d, _ in runs)
    return ids.pop(), yard


def summary(runs):
    by = {}
    for d, r in runs:
        for k, v in r["metrics"].items():
            by.setdefault((d["workload"], k), []).append(v["value"])
    out = {}
    for key, vals in by.items():
        med = statistics.median(vals)
        q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
        out[key] = (med, (q[2] - q[0]) / med if med else 0.0, len(vals))
    return out


def determinism(runs):
    """Problems found among runs that share a workload and seed."""
    first, bad = {}, []
    for d, _ in runs:
        key = (d["workload"], d["seed"])
        if key not in first:
            first[key] = d
            continue
        a = first[key]
        n = min(len(a["op_order_sha256"]), len(d["op_order_sha256"]))
        if a["landing_sha256"] != d["landing_sha256"]:
            bad.append(f"{key[0]} seed {key[1]}: landing data differs")
        if a["op_order_sha256"][:n] != d["op_order_sha256"][:n]:
            bad.append(f"{key[0]} seed {key[1]}: operation order differs")
    repeats = len(runs) - len(first)
    return bad, repeats


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    base = load(sys.argv[1])
    base_host, base_yard = host(base, sys.argv[1])
    bad = [f"{d['workload']} seed {d['seed']}" for d, r in base if not r["correct"]]
    if bad:
        print("incorrect runs: " + ", ".join(bad))
    new = load(sys.argv[2]) if len(sys.argv) == 3 else []
    bad, repeats = determinism(base + new)
    if repeats:
        print(f"determinism: {repeats} repeated seed run(s), "
              + ("; ".join(bad) if bad else "same landing data and operation order"))
    a = summary(base)
    if len(sys.argv) == 2:
        for (w, k), (med, spread, n) in sorted(a.items()):
            print(f"{w:10s} {k:32s} median {med:14.4f}  spread {spread:6.3f}  n={n}")
        return
    new_host, new_yard = host(new, sys.argv[2])
    if new_host != base_host:
        sys.exit(f"refusing to compare different hosts:\n  {base_host}\n  {new_host}")
    if not 1 / 1.15 <= new_yard / base_yard <= 1.15:
        sys.exit(f"refusing to compare: CPU yardstick moved {base_yard:.0f} -> {new_yard:.0f} MB/s")
    b = summary(new)
    for key in sorted(set(a) & set(b)):
        (ma, sa, _), (mb, sb, _) = a[key], b[key]
        ratio = mb / ma if ma else float("nan")
        print(f"{key[0]:10s} {key[1]:32s} {ma:14.4f} -> {mb:14.4f}  x{ratio:.3f}"
              f"  spread {sa:.3f}/{sb:.3f}")


if __name__ == "__main__":
    main()
