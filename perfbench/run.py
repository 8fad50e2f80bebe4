#!/usr/bin/env python3
"""Run one workload of graft's benchmark and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py tool <class> <args>...

Run it from the repository root. It builds graft and the harness
(perfbench/build.py) when the sources changed, starts one JVM that runs the
workload (perfbench/src), and prints every metric by name and unit; the
last line of standard output is the JSON result. The run record, with the
host's steal, iowait and load over the run, is kept in
<build dir>/results/. The build dir is $CARGO_TARGET_DIR, else .bench_build.
`tool` runs another main class of the harness (perfbench.Record,
perfbench.PruningEvidence) with the same JVM settings.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

BENCH = Path(__file__).resolve().parent
# a benchmark run must end within 180 s
JVM_TIMEOUT_S = 170
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def cpu_times():
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals  # user nice system idle iowait irq softirq steal ...


def load1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def host_record(t0, t1, load0, load_end):
    d = [b - a for a, b in zip(t0, t1)]
    total = sum(d[:8]) or 1
    return {"steal_pct": 100.0 * d[7] / total, "iowait_pct": 100.0 * d[4] / total,
            "busy_pct": 100.0 * (total - d[3] - d[4]) / total,
            "load1_start": load0, "load1_end": load_end}


def java(classes, work, main_class):
    """The JVM command line every run uses; Spark's files stay under work."""
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", f"{classes}:{build.spark_jars()}/*", main_class]


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build").resolve()
    d.mkdir(parents=True, exist_ok=True)
    return d


def tool(main_class, args):
    classes = build.build(build_dir())
    work = build_dir() / "tool"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    rc = subprocess.run(java(classes, work, main_class) + args).returncode
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(rc)


def main():
    if sys.argv[1:2] == ["tool"]:
        tool(sys.argv[2], sys.argv[3:])
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()

    spec = json.loads(Path("BENCHMARK.json").read_text())
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        raise SystemExit(f"unknown workload {a.workload}")
    classes = build.build(build_dir())

    work = build_dir() / "runs" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "result.json"
    cmd = java(classes, work, "perfbench.Main") + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--data", str(BENCH / "data"),
        "--work", str(work), "--out", str(out)]
    cpu0, load0 = cpu_times(), load1()
    launched = time.time()
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"workload {a.workload} timed out; log in {work / 'jvm.log'}")
    host = host_record(cpu0, cpu_times(), load0, load1())
    if rc != 0 or not out.exists():
        sys.stderr.write((work / "jvm.log").read_text()[-3000:])
        raise SystemExit(f"workload {a.workload} failed (exit {rc})")
    res = json.loads(out.read_text())

    e2e = dict(res["e2e"], setup_s=res["first_timed_ms"] / 1000.0 - launched)
    wanted = spec["per_layer"] if a.trace == "1" else spec["end_to_end"]
    got = res["layers"] if a.trace == "1" else e2e
    missing = [m["name"] for m in spec["end_to_end"] if m["name"] not in e2e]
    if missing:
        raise SystemExit(f"workload {a.workload} did not measure {missing}")
    # a per-layer metric of a layer the workload does not use reads 0
    metrics = {m["name"]: {"value": got.get(m["name"], 0.0), "unit": m["unit"]} for m in wanted}
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": int(a.trace), "host": host,
              "session_s": res["session_ready_ms"] / 1000.0 - launched,
              "attempted": res["attempted"], "failed": res["failed"], "notes": res["notes"],
              "end_to_end": e2e, "per_layer": res["layers"]}
    results = build_dir() / "results"
    results.mkdir(exist_ok=True)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(launched)}.json"
    (results / name).write_text(json.dumps(record, indent=1, sort_keys=True))
    shutil.rmtree(work, ignore_errors=True)

    for k, v in sorted(metrics.items()):
        print(f"{k:48s} {v['value']:>16.6g} {v['unit']}")
    for k, v in sorted(res["notes"].items()):
        if v:
            print(f"# {k}: {v}")
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
