"""Pipeline benchmark: one workload, one run.

    python3 perfbench/run.py --workload fraud_medallion --seed 1 --seconds 10 --trace 0

Builds the program from source when needed (perfbench/build.py), runs the
workload in one JVM (perfbench.Main) and prints, as the last stdout line,
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics of
BENCHMARK.json with --trace 0, the per-layer ones with --trace 1. Inputs
and outputs live under .bench_build/work and are removed at the end; the
spans and failure reasons of the run stay under .bench_build/runs.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

RUN_TIMEOUT_S = 170

JVM_OPTS = [
    "-Xms2g", "-Xmx2g", "-Xmn512m", "-Xss16m", "-XX:TieredStopAtLevel=1", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [opt for pkg in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
) for opt in ("--add-opens", f"{pkg}=ALL-UNNAMED")]


def expected_metrics(trace: bool) -> dict:
    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()

    build.build()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time())}-{os.getpid()}"
    work = build.BUILD_DIR / "work" / tag
    out = build.BUILD_DIR / "runs" / tag
    # Spark's block manager and the JVM's temp files stay inside the checkout
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           "-cp", build.classpath(), "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", str(work), "--out", str(out)]
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=RUN_TIMEOUT_S,
                              cwd=build.ROOT)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = proc.stdout.strip().splitlines()
    sys.stdout.write("".join(line + "\n" for line in lines[:-1]))
    if proc.returncode != 0 or not lines:
        print(f"run: benchmark JVM exited with {proc.returncode}", file=sys.stderr)
        return 1
    result = json.loads(lines[-1])
    want = expected_metrics(bool(a.trace))
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        print(f"run: metrics {got} do not match BENCHMARK.json {want}", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
