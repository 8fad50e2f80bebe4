#!/usr/bin/env python3
"""Summarize the run records that perfbench/run.py kept in <build dir>/results.

    python3 perfbench/report.py [<build dir>]

For each workload: the median of every end-to-end metric over the untraced
runs, the median of every per-layer metric over the traced runs (by name and
unit), the self time per layer, the tracing overhead (traced wall_s against
untraced wall_s), and the host's steal, iowait and load over the runs.
"""
import json
import os
import statistics
import sys
from pathlib import Path


def med(xs):
    return statistics.median(xs) if xs else float("nan")


def main():
    build_dir = Path(sys.argv[1] if len(sys.argv) > 1
                     else os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    spec = json.loads(Path("BENCHMARK.json").read_text())
    runs = [json.loads(p.read_text()) for p in sorted((build_dir / "results").glob("*.json"))]
    for w in [w["name"] for w in spec["workloads"]]:
        plain = [r for r in runs if r["workload"] == w and not r["trace"]]
        traced = [r for r in runs if r["workload"] == w and r["trace"]]
        if not plain and not traced:
            continue
        print(f"== {w}: {len(plain)} untraced run(s), {len(traced)} traced run(s)")
        for m in spec["end_to_end"]:
            vals = [r["end_to_end"][m["name"]] for r in plain]
            print(f"  {m['name']:44s} {med(vals):>14.6g} {m['unit']}")
        failed = sum(r["failed"] for r in plain + traced)
        attempted = sum(r["attempted"] for r in plain + traced)
        print(f"  {'operations failed':44s} {failed:>14d} of {attempted}")
        if traced:
            for m in spec["per_layer"]:
                vals = [r["per_layer"].get(m["name"], 0.0) for r in traced]
                print(f"  {m['name']:44s} {med(vals):>14.6g} {m['unit']}")
            wall = med([r["end_to_end"]["wall_s"] for r in plain])
            twall = med([r["per_layer"].get("trace.wall_s", 0.0) for r in traced])
            if plain:
                print(f"  {'tracing overhead (traced/untraced wall)':44s} "
                      f"{100.0 * (twall / wall - 1):>+13.2f}%")
        for k in ["steal_pct", "iowait_pct", "busy_pct", "load1_end"]:
            vals = [r["host"][k] for r in plain + traced]
            print(f"  host {k:39s} {med(vals):>14.4g} (max {max(vals):.4g})")


if __name__ == "__main__":
    main()
