#!/usr/bin/env python3
"""The repo benchmark: one seeded workload on Spark local[4], every answer
checked against an oracle computed from the raw generated rows.

    python3 perfbench/run.py --workload roundtrip|maintain \\
        --seed N --seconds S --trace 0|1 [--record DIR]
    python3 perfbench/run.py --smoke        # each workload once, scaled down

Prints one JSON object as the last line of standard output:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {value, unit}}}
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones (and the span tree is written under
.bench_build/perfbench/traces). Exits non-zero when the build or the run
fails, or when any answer differs from its oracle.
"""
import argparse
import json
import math
import os
import pathlib
import subprocess
import sys
import tempfile

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ["roundtrip", "maintain"]
RUN_TIMEOUT_S = 170
JVM_OPTS = ["-Xmx2g", "-Xss8m", "-XX:+UseParallelGC", "-XX:-UsePerfData"] + [
    opt for pkg in [
        "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
        "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
        "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
        "java.base/sun.util.calendar"]
    for opt in ("--add-opens", f"{pkg}=ALL-UNNAMED")]


def run_one(cp, workload, seed, seconds, trace, smoke=False):
    """Run one workload in its own JVM; returns the parsed result object."""
    root = build.OUT
    tmp = root / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    logs = root / "logs"
    logs.mkdir(parents=True, exist_ok=True)
    fd, out = tempfile.mkstemp(prefix="result-", suffix=".json", dir=tmp)
    os.close(fd)
    log = logs / f"{workload}-s{seed}-t{trace}.log"
    cmd = [build.java()] + JVM_OPTS + [
        f"-Djava.io.tmpdir={tmp}", "-cp", os.pathsep.join(cp), "graft.perfbench.Main",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--root", str(root), "--data-key", build.input_key(),
        "--out", out] + (["--smoke"] if smoke else [])
    try:
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=build.REPO)
            try:
                code = proc.wait(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                raise RuntimeError(f"{workload}: run exceeded {RUN_TIMEOUT_S}s (log: {log})")
        if code != 0:
            tail = log.read_text(errors="replace").splitlines()[-40:]
            raise RuntimeError(f"{workload}: benchmark process exited {code}:\n" + "\n".join(tail))
        text = pathlib.Path(out).read_text()
    finally:
        pathlib.Path(out).unlink(missing_ok=True)
    result = json.loads(text)
    bad = [k for k, m in result["metrics"].items()
           if not isinstance(m.get("value"), (int, float)) or not math.isfinite(m["value"])]
    if bad:
        raise RuntimeError(f"{workload}: metrics without a measured value: {bad}")
    return result


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run each workload once at tiny sizes (the benchmark's own check)")
    ap.add_argument("--record", help="also write the result to DIR/<workload>/t<trace>-s<seed>.json")
    a = ap.parse_args(argv)
    if not a.smoke and not a.workload:
        ap.error("--workload is required unless --smoke")
    try:
        cp = build.build()
        if a.smoke:
            results = {w: run_one(cp, w, a.seed, 1, a.trace, smoke=True) for w in WORKLOADS}
            for w, r in results.items():
                print(json.dumps({"workload": w, **r}))
            return 0 if all(r["correct"] for r in results.values()) else 1
        result = run_one(cp, a.workload, a.seed, a.seconds, a.trace)
    except (build.BuildError, RuntimeError, OSError, ValueError, KeyError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    if a.record:
        d = pathlib.Path(a.record) / a.workload
        d.mkdir(parents=True, exist_ok=True)
        (d / f"t{a.trace}-s{a.seed}.json").write_text(json.dumps(result) + "\n")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
