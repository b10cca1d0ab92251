#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds run records (the .json files a run writes to
.bench_out/). For every workload and end-to-end metric this prints the
median and quartile spread of each side and the change against the
metric's bound in BENCHMARK.json. It refuses (exit 2) when the two sides
were measured under different host fingerprints; it exits 1 if any
metric got worse by more than its bound, or if any run failed.
"""
import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# provenance fields that differ between the two sides by design
PROVENANCE = {"source_sha256", "git_sha", "tree"}


def load(d):
    runs = []
    for p in sorted(Path(d).glob("*.json")):
        rec = json.loads(p.read_text())
        if isinstance(rec, dict) and "host" in rec and not rec.get("trace"):
            runs.append(rec)
    if not runs:
        sys.exit(f"no untraced run records in {d}")
    return runs


def host_key(rec):
    return json.dumps({k: v for k, v in rec["host"].items() if k not in PROVENANCE},
                      sort_keys=True)


def spread(xs):
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4)
    return (q[2] - q[0]) / statistics.median(xs)


def main(base_dir, new_dir):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    base, new = load(base_dir), load(new_dir)
    hosts = {host_key(r) for r in base + new}
    if len(hosts) != 1:
        print("refusing to compare: the runs were measured under different host fingerprints:")
        for h in sorted(hosts):
            print("  " + h)
        sys.exit(2)
    bad = [f"{r['workload']} seed {r['seed']}" for r in base + new if r["failed"]]
    worse = []
    both = {r["workload"] for r in base} & {r["workload"] for r in new}
    for w in sorted({r["workload"] for r in base + new} - both):
        print(f"{w}: measured on one side only, not compared")
    for w in sorted(both):
        print(f"{w}:")
        for m in spec["end_to_end"]:
            name = m["name"]
            b = [r["metrics"][name]["value"] for r in base if r["workload"] == w]
            n = [r["metrics"][name]["value"] for r in new if r["workload"] == w]
            mb, mn = statistics.median(b), statistics.median(n)
            change = (mn - mb) / mb
            loss = change if m["better"] == "lower" else -change
            flag = "WORSE" if loss > m["bound"] else "ok"
            if flag == "WORSE":
                worse.append(f"{w} {name}")
            print(f"  {name:20s} base {mb:12.4f} (iqr {spread(b):6.1%})  "
                  f"new {mn:12.4f} (iqr {spread(n):6.1%})  {change:+7.1%}  "
                  f"bound {m['bound']:.0%}  {flag}")
    if bad:
        print("failed runs: " + ", ".join(bad))
    if worse:
        print("worse beyond bound: " + ", ".join(worse))
    sys.exit(1 if bad or worse else 0)


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
