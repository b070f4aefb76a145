"""Host benchmark of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the benchmark
(perfbench/build.py), then runs one workload in a single local[4] JVM. The
last line of standard output is the result object
{"correct", "attempted", "failed", "metrics"}; the line before it is the
host fingerprint. Everything the run writes stays under .bench_build/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("pipeline_hourly", "shuffle_skew", "query_corpus")
RUN_TIMEOUT_S = 170  # per run, after the build

# Spark 4 on JDK 17 needs these outside spark-submit
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def heap_gb():
    """Tier-1 heap formula: half of MemTotal, clamped to [2, 8] GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return min(8, max(2, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return 2


def source_id():
    """Digest of the compiled sources, after the git commit when there is one,
    so an uncommitted change never carries its parent's id."""
    src = "src-" + build._digest(build._sources())[:12]
    head = os.path.join(build.ROOT, ".git", "HEAD")
    try:
        ref = open(head).read().strip()
        if ref.startswith("ref: "):
            ref = open(os.path.join(build.ROOT, ".git", ref[5:])).read().strip()
        return f"{ref} {src}"
    except OSError:
        return src


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    build.build()
    deadline = time.monotonic() + RUN_TIMEOUT_S
    work = os.path.join(build.OUT, "work")
    # the engine caches data derived from its inputs under the JVM temp dir,
    # keyed by the input files only: an earlier run's cache could hide a
    # change to the code that derives it, so every run starts empty (earlier
    # traces are kept)
    if os.path.isdir(work):
        for name in os.listdir(work):
            if name != "traces":
                shutil.rmtree(os.path.join(work, name))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    opts = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        # a fixed young generation keeps the heap's growth, and so peak
        # RSS, from following G1's adaptive sizing run to run; two JIT
        # threads leave the 4 vCPUs to the 4 Spark task threads (six made
        # the cold pass ~3 s slower and the warm passes no faster)
        f"-Xms{heap_gb()}g", f"-Xmx{heap_gb()}g", "-Xmn1g", "-XX:CICompilerCount=2",
        "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dlog4j2.configurationFile={os.path.join(build.HERE, 'log4j2.properties')}",
    ]
    cmd = ["java"] + opts + ["-cp", build.classpath(), "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", work,
           "--data", os.path.join(build.HERE, "data"),
           "--source-id", source_id()]
    rc, out = run_jvm(cmd, deadline)
    lines = out.splitlines()
    problem = f"benchmark JVM exited with {rc}" if rc else check_result(lines, a.trace)
    if problem:
        sys.stderr.write(out)
        sys.exit(f"perfbench: {problem}")
    print("\n".join(lines), flush=True)


def run_jvm(cmd, deadline):
    """Run the benchmark JVM to completion, killed at `deadline`; returns (exit code, stdout)."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=max(1.0, deadline - time.monotonic()))
        return p.returncode, out
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S}s, killed", file=sys.stderr)
        return 124, ""
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def check_result(lines, trace):
    """The result line must carry exactly the metrics BENCHMARK.json names."""
    spec = json.load(open(os.path.join(build.ROOT, "BENCHMARK.json")))
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        return "no result line"
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != want:
        return f"metrics {sorted(set(got) ^ set(want))} differ from BENCHMARK.json"
    return None


if __name__ == "__main__":
    main()
