#!/usr/bin/env python3
"""Benchmark of the graft engine: index build, RAG retrieval and
near-duplicate curation, driven through the engine's public functions on
seeded generated inputs.

    python3 perfbench/run.py --workload {retrieve,dedup} --seed N \
        --seconds S --trace {0,1}

Builds the engine and the benchmark program from source on first use (see build.py),
runs the workload in one JVM and prints, as the last line, one JSON object
with `correct`, `attempted`, `failed` and `metrics` (end-to-end metrics
with --trace 0, per-layer metrics with --trace 1, names and units as in
BENCHMARK.json). Exits non-zero when an output check fails.
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
import build  # noqa: E402

JVM_TIMEOUT_S = 160
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["retrieve", "dedup"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    build.build()

    work = os.path.join(build.out_dir(), "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir
    cmd = (["java", "-Xmx3g", "-Xss4m", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-cp", build.classpath(), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--trace-dir", os.path.join(build.out_dir(), "trace")])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"perfbench: {args.workload} did not finish in {JVM_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = out.rstrip("\n").split("\n")
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write(out)
        raise SystemExit(f"perfbench: the JVM exited with {proc.returncode} and no result")
    sys.stdout.write("\n".join(lines[:-1]) + "\n")
    res = json.loads(lines[-1])
    values = res["values"]
    names = [m["name"] for m in wanted]
    if sorted(values) != sorted(names):
        raise SystemExit("perfbench: metrics differ from BENCHMARK.json: "
                         f"{sorted(set(values) ^ set(names))}")
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }))
    sys.stdout.flush()
    if not res["correct"] or res["failed"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
