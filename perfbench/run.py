#!/usr/bin/env python3
"""Gateway benchmark: run one workload against the webhook gateway.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the gateway and the benchmark from source on first use (sbt,
offline), then runs the benchmark JVM. The last line of standard output
is one JSON object: {"correct", "attempted", "failed", "metrics"} with
the end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).
The full report (sample counts, tails, provenance, failures) and, when
traced, the span file are written under .bench_work/ in the repository.
Exits non-zero when an output is wrong or the run fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
WORKLOADS = ("http_burst", "stream_batches")
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark on JDK 17 needs these outside spark-submit (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_home() -> str:
    """SPARK_HOME, or the installation whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        raise SystemExit("[perfbench] SPARK_HOME is not set")
    return home


def source_digest() -> str:
    """Digest of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [SRC, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(digest: str, env: dict) -> None:
    if os.path.isdir(CLASSES) and os.path.isfile(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    env = dict(env)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" +
                       os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Xmx2g")
    print("[perfbench] building (sbt compile)", file=sys.stderr, flush=True)
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0:
        raise SystemExit(f"[perfbench] build failed ({p.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def commit() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "unknown"


def stop_on_sigterm(signum, frame):
    raise SystemExit(128 + signum)


def main() -> int:
    signal.signal(signal.SIGTERM, stop_on_sigterm)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(SRC, "graft")):
        print(f"[perfbench] gateway sources not found under {SRC}",
              file=sys.stderr)
        return 2
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    digest = source_digest()
    build(digest, env)

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    base = os.path.join(ROOT, ".bench_work")
    work = os.path.join(base, tag)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    report = os.path.join(base, f"report-{tag}.json")
    env["SPARK_LOCAL_DIRS"] = tmp
    cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-Dspark.ui.enabled=false",
            # keep Spark's bounded job/SQL history small, so the live heap
            # shows the gateway's own state rather than that history
            "-Dspark.ui.retainedJobs=50", "-Dspark.ui.retainedStages=50",
            "-Dspark.sql.ui.retainedExecutions=50",
            "-Dspark.sql.session.timeZone=UTC"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", f"{CLASSES}:{os.path.join(env['SPARK_HOME'], 'jars')}/*",
            "perfbench.GatewayBench",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", os.path.join(work, "gateway"), "--report", report,
            "--commit", f"{commit()} src-{digest[:12]}"])
    log = open(os.path.join(base, f"{tag}.log"), "w")
    p = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                         stderr=log, stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print("[perfbench] run timed out", file=sys.stderr)
        return 3
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
        log.close()
        shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    if not lines:
        print(f"[perfbench] no result (exit {p.returncode})", file=sys.stderr)
        return p.returncode or 4
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        print(f"[perfbench] malformed result: {lines[-1]}", file=sys.stderr)
        return 5
    with open(report) as fh:
        full = json.load(fh)
    if not result["correct"]:
        for f in full.get("failures", []):
            print(f"[perfbench] wrong: {f}", file=sys.stderr)
    check = full.get("trace_check", {})
    if check.get("pass") is not None:
        print(f"[perfbench] trace check: self sum "
              f"{check['self_sum_ms_p50']:.1f} ms, service "
              f"{check['service_ms_p50']:.1f} ms, gap {check['gap_ms']:.1f} ms,"
              f" overhead {check['overhead_ms_p50']:.2f} ms: "
              f"{'pass' if check['pass'] else 'FAIL'}", file=sys.stderr)
    print(f"[perfbench] report: {os.path.relpath(report, ROOT)}",
          file=sys.stderr)
    print(json.dumps(result))
    return p.returncode


if __name__ == "__main__":
    sys.exit(main())
