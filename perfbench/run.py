#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine plus the benchmark once per checkout (sbt, in this
directory), writes the run's inputs from the seed (gen.py), then
launches one fresh `java` process on the compiled classpath for the run.
The last line of standard output is one JSON object: {"correct",
"attempted", "failed", "metrics"}. See README.md for the workloads, the
metrics and the two documented seeds.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

WORKLOADS = ["etl_daily_upsert", "query_mix"]
BENCH = Path(__file__).resolve().parent
sys.dont_write_bytecode = True
sys.path.insert(0, str(BENCH))
import gen  # noqa: E402
ROOT = BENCH.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
ORACLE = ROOT / "tools" / "oracle_check.py"
CLASSES = BENCH / "target" / "scala-2.13" / "classes"
STAMP = BENCH / "target" / "perfbench.stamp"
SPARK_JARS = "/opt/spark/jars/*"
HEAP = "2g"
RUN_TIMEOUT_S = 170
# Spark 4 on JDK 17 needs these outside spark-submit (same list as build.sbt).
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp():
    """Digest of every input of the build, so an unchanged checkout builds once."""
    h = hashlib.sha256()
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ENGINE_SRC, BENCH / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == stamp:
        return
    print("perfbench: building engine and benchmark (sbt compile)", file=sys.stderr)
    r = subprocess.run(["sbt", "-batch", "-Dsbt.server.forcestart=false", "compile"],
                       cwd=BENCH, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0:
        fail("build failed")
    STAMP.write_text(stamp)


def run_jvm(args, work, log_path):
    """One fresh JVM for the whole run. Returns (setup seconds, result dict)."""
    cmd = (["java", *OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", f"{CLASSES}:{SPARK_JARS}",
            "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work),
            "--spans", str(ROOT / ".perfbench_out" / f"spans-{args.workload}-{args.seed}.jsonl")])
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    with open(log_path, "w") as log:
        t_spawn = time.time()
        p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log,
                             stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s; log in {log_path}")
    ready = result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_READY "):
            ready = int(line.split()[1]) / 1000.0
        elif line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
    if p.returncode != 0 or ready is None or result is None:
        fail(f"benchmark JVM exited {p.returncode} without a result; log in {log_path}")
    return ready - t_spawn, result


def oracle_failures(work, log_path):
    """Replay the registered DuckDB oracle SQL over the generated inputs."""
    r = subprocess.run([sys.executable, str(ORACLE), str(work / "input"), str(work / "results")],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       stdin=subprocess.DEVNULL, timeout=170)
    with open(log_path, "a") as log:
        log.write(r.stdout)
    bad = [line for line in r.stdout.splitlines() if line.startswith("FAIL")]
    if r.returncode != 0 and not bad:
        bad = [f"oracle_check exited {r.returncode}"]
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    if not ENGINE_SRC.is_dir() or not ORACLE.is_file():
        fail(f"engine sources not found under {ROOT}; run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    build()
    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    log_path = out_dir / f"{args.workload}-{args.seed}-trace{args.trace}.log"
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        t0 = time.time()
        gen.generate(args.workload, args.seed, work)
        gen_s = time.time() - t0
        setup_s, res = run_jvm(args, work, log_path)
        oracle = oracle_failures(work, log_path) if args.workload == "query_mix" else []
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # the JVM's count already includes its own output-check failures
    attempted = int(res["attempted"])
    failed = min(attempted, int(res["failed"]) + len(oracle))
    metrics = dict(res["metrics"])
    if args.trace == 0:
        metrics = {"setup_s": {"value": setup_s, "unit": "s"}, **metrics}
    for p in res["info"]["check_failures"] + oracle:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    print(json.dumps({"info": {"gen_s": gen_s, **res["info"]}, "setup_s": setup_s}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
