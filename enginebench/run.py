#!/usr/bin/env python3
"""Engine benchmark: one seeded, single-client, closed-loop workload run
in-process against the engine's public API on a fresh local Spark session.

    python3 enginebench/run.py --workload ingest_mutate --seed 1 --seconds 20 --trace 0

Run it from the repository root. The first run compiles the program and the
benchmark (see build.py). Each run uses a fresh JVM and a fresh scratch
directory under .bench_run/, deleted when the run ends, and writes its full
artifact (per-operation counts, errors, box condition) to
.bench_out/<workload>-seed<seed>-trace<0|1>.json and to stdout. The last line
of stdout is the result: {"correct", "attempted", "failed", "metrics"}; with
--trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones. WORKLOADS.md describes the workloads and
metrics.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # leave nothing beside the sources
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def result_line(artifact, spec, trace):
    """The result from the run's artifact, with the metrics BENCHMARK.json
    lists for this mode. A traced workload leaves out the layers it never
    enters; those read 0."""
    listed = spec["per_layer" if trace else "end_to_end"]
    got = artifact["per_layer" if trace else "end_to_end"]
    unknown = set(got) - {m["name"] for m in listed}
    if unknown:
        raise ValueError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    metrics = {}
    for m in listed:
        v = got.get(m["name"], 0.0 if trace else None)
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            raise ValueError(f"bad metric {m['name']}: {v}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    return {"correct": artifact["correct"], "attempted": artifact["attempted_total"],
            "failed": artifact["failed_total"], "metrics": metrics}


def main():
    root = os.getcwd()
    try:
        with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as f:
            spec = json.load(f)
    except (OSError, ValueError) as e:
        sys.exit(f"enginebench: no BENCHMARK.json in the working directory: {e}")
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        classes, jars = build.build(root)
    except (OSError, build.BuildError) as e:
        sys.exit(f"enginebench: cannot build: {e}")

    cores = len(os.sched_getaffinity(0))
    scratch = os.path.join(root, ".bench_run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={scratch}/tmp",
           "-Dspark.ui.enabled=false"]
    cmd += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    cmd += ["-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}", "enginebench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--scratch", scratch, "--cores", str(cores)]
    log_path = os.path.join(scratch, "jvm.log")
    proc = None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                    cwd=root, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                raise RuntimeError(f"run exceeded {JVM_TIMEOUT_S} s")
        lines = [ln for ln in out.splitlines() if ln.startswith("{")]
        if proc.returncode != 0 or not lines:
            raise RuntimeError(f"JVM exited with {proc.returncode}")
        artifact = json.loads(lines[-1])
        result = result_line(artifact, spec, a.trace)
    except (RuntimeError, ValueError, KeyError) as e:
        with open(log_path, errors="replace") as f:
            tail = f.readlines()[-40:]
        sys.stderr.write("".join(tail))
        sys.exit(f"enginebench: {e}")
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)

    out_dir = os.path.join(root, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
    print(json.dumps({"artifact": artifact}, sort_keys=True))
    print(json.dumps(result, sort_keys=True))


if __name__ == "__main__":
    main()
