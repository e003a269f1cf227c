#!/usr/bin/env python3
"""One benchmark run of graft: builds the program from source if needed, runs
one workload in a fresh JVM at local[<cores>], and prints the result object
as the last line of standard output.

Usage: python3 perfbench/run.py --workload <serve-dist|maintain> --seed <n>
                                --seconds <s> --trace <0|1>

--trace 0 prints the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer ones and writes the run's spans to .bench_build/spans/. All files
are written under .bench_build/ in the checkout; the run's work directory is
removed at the end. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

RUN_TIMEOUT_S = 170
HEAP = "3g"
# JDK 17 module opens Spark needs when started outside spark-submit
OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["serve-dist", "maintain"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()
    want = expected_metrics(a.trace)
    classes = build.build()

    work = os.path.join(build.BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    spans = os.path.join(build.BUILD, "spans", f"{a.workload}-{a.seed}.jsonl")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", *OPENS, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
           f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
           "-cp", f"{classes}:{os.path.join(build.spark_jars(), '*')}",
           "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", work, "--spans", spans]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.decode().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"run failed with exit code {proc.returncode}")
    result = json.loads(lines[-1])
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if set(result) != {"correct", "attempted", "failed", "metrics"} or got != want:
        raise SystemExit(f"result does not match BENCHMARK.json: {sorted(set(got) ^ set(want))}")
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
