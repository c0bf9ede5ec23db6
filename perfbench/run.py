#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one result line.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the engine from
../src/main together with the harness in perfbench/src (sbt, offline)
into .bench_build/; later runs reuse the build while the sources are
unchanged. The harness JVM runs with its temporary, Spark-local and
warehouse directories under .bench_build/ and removes them at exit.

The last line of stdout is the result object
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). Exits non-zero, without a result line, when the engine
sources are missing, the build fails or the run does not finish.

Maintenance flags (not used by a plain run): --data <fixture dir>,
--setups <n>, --inject-malformed 1, --mode fingerprints|dump, --out <dir>.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "target" / "scala-2.13" / "classes"
STAMP = BUILD / "build.sha256"
SPARK_JARS = Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"
ENGINE_SRC = ROOT / "src" / "main"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark on JDK 17 outside spark-submit (same list as the repository build)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

WORKLOADS = ("batch", "wire_short", "wire_bulk")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def source_digest():
    """Digest of every input of the build."""
    h = hashlib.sha256()
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for base in (ENGINE_SRC, BENCH / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile engine + harness unless the last build saw the same sources."""
    if not (ENGINE_SRC / "scala").is_dir():
        log(f"engine sources not found under {ENGINE_SRC}")
        return False
    digest = source_digest()
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == digest:
        return True
    log("building engine and harness (sbt compile)")
    BUILD.mkdir(exist_ok=True)
    tmp = BUILD / "sbt-tmp"
    tmp.mkdir(exist_ok=True)
    env = dict(os.environ)
    opts = env.get("SBT_OPTS", "")
    # resolve from the local caches only, never from the network
    env["COURSIER_MODE"] = "offline"
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    if "-Xmx" not in opts:
        opts += " -Xmx2g"
    env["SBT_OPTS"] = f"{opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    cmd = ["sbt", "--batch", "-Dsbt.server.autostart=false", "compile"]
    try:
        proc = subprocess.run(cmd, cwd=BENCH, stdout=sys.stderr, stderr=sys.stderr,
                              stdin=subprocess.DEVNULL, env=env, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        log(f"build failed: {e}")
        return False
    if proc.returncode != 0 or not CLASSES.is_dir():
        log(f"build failed with exit code {proc.returncode}")
        return False
    STAMP.write_text(digest)
    return True


def harness_args(a):
    data = Path(a.data) if a.data else BENCH / "data" / "sf0.01"
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", str(data.resolve()),
            "--fingerprints", str(BENCH / "fingerprints.json"),
            "--spans", str(BUILD / "spans"), "--cores", str(cores()),
            "--setups", str(a.setups), "--inject-malformed", str(a.inject_malformed),
            "--mode", a.mode]
    if a.out:
        args += ["--out", str(Path(a.out).resolve())]
    return args


def is_result(line):
    try:
        obj = json.loads(line)
    except ValueError:
        return None
    if isinstance(obj, dict) and {"correct", "attempted", "failed", "metrics"} <= obj.keys():
        return obj
    return None


def launch(a, timeout_s=RUN_TIMEOUT_S):
    """Run the harness JVM; returns (exit code, result object or None).

    Child stdout is echoed except for the result line, which is printed
    last and only when the run succeeded."""
    run_dir = BUILD / f"run-{uuid.uuid4().hex[:12]}"
    for d in ("tmp", "local", "warehouse"):
        (run_dir / d).mkdir(parents=True, exist_ok=True)
    # the heap grows as the engine needs it (so peak_rss_mb follows the
    # engine's memory use) up to a fixed cap; the throughput collector has
    # no concurrent phases competing with the task threads
    cmd = ["java", "-Xmx1536m", "-XX:+UseParallelGC", "-XX:ParallelGCThreads=2"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-XX:-UsePerfData",
        "-Duser.timezone=UTC",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={run_dir / 'tmp'}",
        f"-Dspark.local.dir={run_dir / 'local'}",
        f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
        f"-Dspark.hadoop.hadoop.tmp.dir={run_dir / 'tmp'}",
        f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
        "-cp", f"{CLASSES}{os.pathsep}{SPARK_JARS}/*",
        "perfbench.Main",
    ] + harness_args(a)
    env = {k: v for k, v in os.environ.items() if not k.startswith("GRAFT_")}
    result = None
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            env=env, text=True, start_new_session=True)
    deadline = time.monotonic() + timeout_s
    timed_out = False
    try:
        import selectors
        sel = selectors.DefaultSelector()
        sel.register(proc.stdout, selectors.EVENT_READ)
        while True:
            left = deadline - time.monotonic()
            if left <= 0:
                timed_out = True
                break
            if not sel.select(timeout=min(left, 1.0)):
                if proc.poll() is not None:
                    break
                continue
            line = proc.stdout.readline()
            if not line:
                break
            obj = is_result(line)
            if obj is not None:
                result = obj
            else:
                sys.stdout.write(line)
                sys.stdout.flush()
        if timed_out:
            log(f"run exceeded {timeout_s} s; stopping it")
        else:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        timed_out = True
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGTERM)
            try:
                proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
        proc.stdout.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    code = 1 if timed_out else proc.returncode
    return code, (result if code == 0 else None)


def parser():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--data", default=None)
    p.add_argument("--setups", type=int, default=3)
    p.add_argument("--inject-malformed", type=int, choices=(0, 1), default=0)
    p.add_argument("--mode", default="run", choices=("run", "fingerprints", "dump"))
    p.add_argument("--out", default=None)
    return p


def main():
    a = parser().parse_args()
    if not build():
        return 2
    code, result = launch(a)
    if code != 0 or (result is None and a.mode == "run"):
        log(f"run failed (exit code {code})")
        return code or 1
    if result is not None:
        print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
