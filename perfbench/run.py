"""Benchmark of the live InferenceJob: open-loop latency, capacity and
adaptation latency on local[cpus], checked against a single-thread replay.

    python3 perfbench/run.py --workload live_uniform --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --selftest

Builds the program from source (perfbench/build.py), runs one JVM, prints
every metric by name and unit, and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 they are the per-layer ones, the
spans go to .bench_out/spans-*.jsonl, the per-layer line is appended to
.bench_out/layers.jsonl, and the tracing overhead is reported against the
last untraced run of the same workload. The JVM's log is .bench_out/jvm.log.

Metric definitions, the layer -> end-to-end map and the held-out seed are
in perfbench/metrics.json.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
OUT = os.path.join(ROOT, ".bench_out")
WORKLOADS = ("live_uniform", "live_zipf")
# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
JVM_TIMEOUT_S = 165


def git_commit():
    """HEAD of the checkout if it is a git work tree (never of a repository around it)."""
    env = {**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(ROOT)}
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, env=env)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def sweep_stale():
    """Remove what earlier runs left behind (checkpoints, Spark temp files)."""
    if os.path.isdir(OUT):
        for name in os.listdir(OUT):
            if name.startswith("run-") or name in ("spark-local", "tmp", "warehouse"):
                shutil.rmtree(os.path.join(OUT, name), ignore_errors=True)
    os.makedirs(os.path.join(OUT, "tmp"), exist_ok=True)


def java(classpath, main, args):
    # a fixed-size heap: a growing one makes the run speed up as it goes
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", *ADD_OPENS, "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(OUT, 'tmp')}", "-cp", classpath, main, *args]
    with open(os.path.join(OUT, "jvm.log"), "w") as log:
        return subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log,
                              text=True, timeout=JVM_TIMEOUT_S)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    classpath, source_sha = build.build()
    sweep_stale()
    if a.selftest:
        r = java(classpath, "perfbench.SelfTest", [])
        print(r.stdout, end="")
        sys.exit(r.returncode)
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")

    r = java(classpath, "perfbench.Main", ["--workload", a.workload, "--seed", str(a.seed),
                                           "--seconds", str(a.seconds), "--trace", str(a.trace),
                                           "--out", OUT])
    line = next((l for l in r.stdout.splitlines() if l.startswith("PERFBENCH_RESULT ")), None)
    sweep_stale()
    if r.returncode != 0 or line is None:
        sys.exit(f"run: the benchmark JVM failed (exit code {r.returncode})")
    res = json.loads(line[len("PERFBENCH_RESULT "):])
    res["commit"] = git_commit()
    res["source_sha256"] = source_sha

    # provenance and every metric, by name and unit
    prov = {k: res[k] for k in ("workload", "seed", "seconds", "cpus", "rates", "commit",
                                "source_sha256", "calib_s", "valid", "invalid_because")}
    print("provenance " + json.dumps(prov))
    print("checks " + json.dumps({k: res[k] for k in (
        "attempted", "failed", "forecasts_lost", "fail_frac", "failures")}))
    print("load " + json.dumps(res["load"]))
    print("adaptation " + json.dumps({k: res[k] for k in ("instructions", "pushes")}))
    for group in ("end_to_end", "per_layer") if a.trace else ("end_to_end",):
        for name, m in res[group].items():
            print(f"{group} {name} = {m['value']} {m['unit']}")
    if not res["valid"]:
        print("run INVALID: " + "; ".join(res["invalid_because"]) +
              "; rerun, do not read it as a regression")

    last = os.path.join(OUT, f"last-untraced-{a.workload}.json")
    if a.trace == 0:
        with open(last, "w") as fh:
            json.dump(res["end_to_end"], fh)
        metrics = res["end_to_end"]
    else:
        with open(os.path.join(OUT, "layers.jsonl"), "a") as fh:
            fh.write(json.dumps({**prov, "per_layer": res["per_layer"], "spans": res["spans"]}) + "\n")
        if os.path.exists(last):
            base = json.load(open(last))
            overhead = {n: (m["value"] - base[n]["value"]) / base[n]["value"]
                        for n, m in res["end_to_end"].items()
                        if m["value"] is not None and base.get(n, {}).get("value")}
            print("trace_overhead " + json.dumps(overhead))
        else:
            print("trace_overhead unknown: no untraced run of this workload yet")
        metrics = res["per_layer"]

    missing = [n for n, m in metrics.items() if m["value"] is None]
    failed = res["failed"] + len(missing)
    out = {
        "correct": failed == 0 and res["forecasts_lost"] == 0,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": {n: {"value": m["value"] if m["value"] is not None else 0.0, "unit": m["unit"]}
                    for n, m in metrics.items()},
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
