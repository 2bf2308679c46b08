#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload graph_analytics --seed 1 --seconds 10 --trace 0

Builds the harness with the engine sources on first use, generates the
workload's inputs from the seed, runs the timed loop in one JVM, checks every
op's output, and prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 its per-layer metrics. The full record (every metric that applies
to the workload, with sample counts, layer shares and tracing overhead) is
written to .bench_work/results/. A run with a wrong output exits 1.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import statistics
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from benchlib import build, gen, metrics, oracle  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK_ROOT = os.path.join(ROOT, ".bench_work")
WORKLOADS = ("graph_analytics", "curation_store")
JVM_TIMEOUT_S = 170

ADD_OPENS = [f"--add-opens={m}=ALL-UNNAMED" for m in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar")]


def declared_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["end_to_end"], spec["per_layer"]


def load_workload_file(name, data, copy_as):
    """A workload definition from perfbench/workloads, copied beside the
    inputs for the JVM."""
    with open(os.path.join(BENCH_DIR, "workloads", name)) as f:
        spec = json.load(f)
    with open(os.path.join(data, copy_as), "w") as f:
        json.dump(spec, f)
    return spec


def run_jvm(cp, args, work, log_path):
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            f"-Dspark.local.dir={work}/spark-local", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.sql.warehouse.dir={work}/warehouse"]
           + ADD_OPENS + ["-cp", cp, "graftbench.Main"] + args)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError("the harness JVM did not finish in time")
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError(f"the harness JVM exited with code {code}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    cores = min(4, os.cpu_count() or 1)

    e2e_spec, layer_spec = declared_metrics()
    cp = build.classpath()

    work = os.path.join(WORK_ROOT, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    t_gen = time.time()
    manifest = gen.generate(a.workload, data, a.seed)
    gen_s = time.time() - t_gen
    # expected results, computed outside the set-up time
    if a.workload == "graph_analytics":
        patterns = load_workload_file("graph_patterns.json", data, "patterns.json")
        with open(os.path.join(data, "expected_counts.json"), "w") as f:
            json.dump(oracle.pattern_counts(data, patterns), f)

    os.makedirs(os.path.join(WORK_ROOT, "results"), exist_ok=True)
    raw_path = os.path.join(work, "observed.json")
    t_launch_us = time.time() * 1e6
    run_jvm(cp, ["--workload", a.workload, "--data", data, "--work", work, "--out", raw_path,
                 "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(cores)],
            work, os.path.join(work, "jvm.log"))
    with open(raw_path) as f:
        raw = json.load(f)

    # set-up: input generation, JVM and session start, the median of the
    # repeated registrations, and the warm-up
    setup_s = (gen_s + (raw["session_up_us"] - t_launch_us) / 1e6
               + statistics.median(raw["setup_reps_s"]) + raw["warmup_s"])
    untraced = {p["pass"] for p in raw["passes"] if not p["traced"]}
    e2e = metrics.end_to_end(raw, setup_s, manifest, untraced if a.trace else None)
    failed = metrics.fail_count(raw)
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "cores": cores,
              "input": {k: v for k, v in manifest.items() if k != "chunk_text_bytes"},
              "end_to_end": {k: {"value": v, "unit": u, "samples": s} for k, (v, u, s) in e2e.items()},
              "failures": [{"op": o["name"], "pass": o["pass"], "why": o["error"] or o["check"]}
                           for o in raw["ops"] if o["error"] or o["check"]][:20],
              "op_p50_s": metrics.op_medians(raw),
              "pass_s": [(p["end_us"] - p["start_us"]) / 1e6 for p in raw["passes"]],
              "setup_parts_s": {"generate": gen_s,
                                "session": (raw["session_up_us"] - t_launch_us) / 1e6,
                                "registrations": raw["setup_reps_s"], "warmup": raw["warmup_s"]},
              "check_s": raw["check_s"], "extras": raw["extras"]}
    if a.trace:
        layer = metrics.per_layer(raw, cores, raw["extras"])
        for name in ("write_p50_s", "ingest_docs_per_s", "store_bytes_per_input_byte", "fail_ratio"):
            layer[name] = e2e.get(name, (0.0, "", 0))[:2]
        # the first timed pass still runs slower while the JIT settles; it is
        # traced, so leaving it out keeps the comparison fair
        later = raw["passes"][1:]
        traced_pass = [(p["end_us"] - p["start_us"]) / 1e6 for p in later if p["traced"]]
        plain_pass = [(p["end_us"] - p["start_us"]) / 1e6 for p in later if not p["traced"]]
        layer["trace.overhead_ratio"] = (
            statistics.median(traced_pass) / statistics.median(plain_pass) - 1
            if traced_pass and plain_pass else 0.0, "ratio")
        record["per_layer"] = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
        spans, record["layer_shares"] = metrics.span_report(raw)
        with open(os.path.join(WORK_ROOT, "results",
                               f"{a.workload}-seed{a.seed}-spans.json"), "w") as f:
            json.dump(spans, f)
        wanted = layer_spec
        values = {k: v for k, (v, _) in layer.items()}
    else:
        wanted = e2e_spec
        values = {k: v for k, (v, _, _) in e2e.items()}

    with open(os.path.join(WORK_ROOT, "results",
                           f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    result = {"correct": failed == 0, "attempted": len(raw["ops"]), "failed": failed,
              "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                          for m in wanted}}
    if failed:
        for fl in record["failures"]:
            sys.stderr.write(f"wrong output: {fl}\n")
    print(json.dumps(result))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception as e:  # no result line on any error
        sys.stderr.write(f"perfbench: {e}\n")
        sys.exit(2)
