"""Spatial-join benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--smoke] [--corrupt-checksum]

Workloads: uniform_pp_sql, clustered_pp (see BENCHMARK.json).
Builds the engine and the harness from source on first use (perfbench/build.py),
then runs one JVM on local[nproc]. The last stdout line is the result object
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics are
the end-to-end ones, with --trace 1 the per-layer ones. The full run record
(per-rep samples, CPU sentinels, spans, stages) is written under
<build>/runs. --smoke runs tiny inputs; --corrupt-checksum perturbs the
expected checksum so every join must be counted as failed.
"""
import argparse
import os
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["uniform_pp_sql", "clustered_pp"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--corrupt-checksum", action="store_true")
    a = ap.parse_args()

    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    out = os.path.join(build.build_dir(), "runs")
    tmp = os.path.join(build.build_dir(), "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -UsePerfData: no hsperfdata file in /tmp; a run writes only inside the checkout
    cmd = ["java", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    log_conf = os.path.join(os.path.dirname(os.path.abspath(__file__)), "log4j2.properties")
    cmd += ["-Xmx3g", f"-Djava.io.tmpdir={tmp}", f"-Dlog4j.configurationFile={log_conf}",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--out", out]
    if a.smoke:
        cmd.append("--smoke")
    if a.corrupt_checksum:
        cmd.append("--corrupt-checksum")

    # SIGTERM unwinds through the finally below, so the JVM never outlives us
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        stdout, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"benchmark JVM exceeded {TIMEOUT_S} s and was killed", file=sys.stderr)
        return 3
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(stdout)
        print(f"benchmark JVM failed (exit {proc.returncode})", file=sys.stderr)
        return 4
    print(lines[-1])
    return 0


if __name__ == "__main__":
    sys.exit(main())
