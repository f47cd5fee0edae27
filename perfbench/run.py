#!/usr/bin/env python3
"""Benchmark of the graft Spark engine: build, run one workload, report.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles the engine
(src/main/scala) and the harness (perfbench/harness) with the Scala
compiler shipped in Spark's jars into .bench_build/, keyed by a hash of
the sources; later runs reuse the classes. One JVM then drives Spark with
local[nproc] and writes its raw samples (perfbench/harness/PerfBench.scala);
this script turns them into metrics, checks every output, prints a summary
and, as the last line, one JSON object:

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones. Workloads: ref_tokenize and contract_mix (see
perfbench/README.md). --selfcheck checks the output fingerprint instead.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

import metrics

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
BUILD = ROOT / ".bench_build"
PINS = HERE / "pins.json"
DATA = HERE / "data" / "sf0.01"
WORKLOADS = ("ref_tokenize", "contract_mix")
SETUPS = 3
# the whole run, build excluded, must end well inside 180 s
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        m = re.search(r'unmanagedBase := file\("([^"]+)"\)',
                      sbt.read_text() if sbt.exists() else "")
        jars = Path(m.group(1)) if m else ROOT / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        fail(f"no Spark jars with a Scala compiler under {jars}; set SPARK_HOME")
    return jars


def sources():
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    harness = sorted((HERE / "harness").glob("*.scala"))
    if not engine or not harness:
        fail("run from the root of a checkout: src/main/scala or perfbench/harness missing")
    return engine + harness


def build(jars):
    """Compile engine + harness once per source hash; return the classes dir."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    for j in sorted(jars.glob("*.jar")):
        h.update(j.name.encode())
    out = BUILD / f"classes-{h.hexdigest()[:16]}"
    if (out / ".complete").exists():
        return out
    BUILD.mkdir(exist_ok=True)
    for old in BUILD.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    tmp = BUILD / f"compiling-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    t0 = time.time()
    with open(BUILD / "compile.log", "w") as log:
        rc = run_child(["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", f"{jars}/*",
                        "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
                        "-encoding", "UTF-8", "-d", str(tmp), f"@{argfile}"],
                       log, BUILD_TIMEOUT_S)
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail(f"compile failed (rc={rc}); see {BUILD / 'compile.log'}")
    argfile.unlink()
    (tmp / ".complete").write_text(f"{time.time() - t0:.1f}\n")
    tmp.rename(out)
    return out


def run_child(cmd, log, timeout, env=None):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                         cwd=ROOT, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return "timeout"


def heap_mb():
    """A quarter of the host's memory, between 1 GiB and 3 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    except (OSError, StopIteration):
        kb = 8 << 20
    return max(1024, min(3072, kb // 4096))


def launch(classes, jars, args, work, log_name, timeout):
    """Run the harness JVM; return its raw result dict, or None."""
    out = work / "raw.json"
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "SPARK_LOCAL_DIRS"))}
    env["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    env["SPARK_LOCAL_IP"] = "127.0.0.1"
    # a fixed heap: a heap that grows as G1 sees fit grows at another
    # moment in every run, and each pass's time and peak heap follow it
    heap = f"{heap_mb()}m"
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{heap}", f"-Xmx{heap}", *ADD_OPENS,
            f"-Djava.io.tmpdir={work / 'tmp'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}:{jars}/*", "perfbench.PerfBench",
            "--work", str(work), "--out", str(out)] + args)
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    (BUILD / "logs").mkdir(parents=True, exist_ok=True)
    with open(BUILD / "logs" / log_name, "w") as log:
        rc = run_child(cmd, log, timeout, env)
    if rc != 0 or not out.exists():
        print(f"perfbench: harness exited rc={rc}; see {BUILD / 'logs' / log_name}",
              file=sys.stderr)
        return None
    return json.loads(out.read_text())


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true",
                    help="check the fingerprint's order-insensitivity")
    a = ap.parse_args()
    if not a.selfcheck and not a.workload:
        ap.error("--workload is required")
    jars = spark_jars()
    classes = build(jars)
    work = BUILD / "work" / f"{a.workload or 'selfcheck'}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        if a.selfcheck:
            raw = launch(classes, jars, ["--selfcheck"], work, "selfcheck.log",
                         RUN_TIMEOUT_S)
            if raw is None:
                sys.exit(1)
            print(json.dumps(raw))
            sys.exit(0 if all(raw.values()) else 1)
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--setups", str(SETUPS), "--data", str(DATA)]
        raw = launch(classes, jars, args, work,
                     f"{a.workload}-seed{a.seed}-trace{a.trace}.log", RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if raw is None:
        sys.exit(1)

    report = metrics.report(raw, json.loads(PINS.read_text()))
    results = BUILD / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{a.workload}-seed{a.seed}-trace{a.trace}.json").write_text(
        json.dumps({"env": raw["env"], "passes": raw["passes"], "report": report}, indent=1))
    for line in metrics.summary(raw, report):
        print(line)
    keep = report["per_layer"] if a.trace else report["end_to_end"]
    print(json.dumps({
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": keep,
    }))


if __name__ == "__main__":
    main()
