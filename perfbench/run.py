#!/usr/bin/env python3
"""Benchmark entry point.

  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program and the JVM harness from source (once per source state,
into .bench_build/), generates the workload's inputs from the seed, runs one
JVM closed loop with a single client on local[<cores>], checks the outputs,
and prints one JSON line: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (spans go to .bench_build/perfbench/traces/).

Workloads: ingest_batch, kpi_queries (see README.md).
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import checks  # noqa: E402
ROOT = HERE.parent
SOURCES = ROOT / "src" / "main" / "scala"
BUILD = ROOT / ".bench_build" / "perfbench"
CLASSES = BUILD / "target" / "scala-2.13" / "classes"
SPARK_HOME = os.environ.get("SPARK_HOME", "")
WORKLOADS = ("ingest_batch", "kpi_queries")
STAR_SF = 0.01
BASELINE_ROWS_PER_S = 10000 / 60  # BASELINE.md: 10,000 rows/min


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code):
    log(msg)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    files = sorted(SOURCES.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala")) + \
        [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    stamp_file = BUILD / "stamp"
    if CLASSES.is_dir() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g "
                       f"-Dsbt.repository.config={Path.home() / '.sbt' / 'repositories'}")
    log("building (sbt compile)")
    with open(BUILD / "build.log", "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            timeout=800).returncode
    if rc != 0:
        fail(f"build failed, see {BUILD / 'build.log'}", 3)
    stamp_file.write_text(stamp)


def cores():
    return len(os.sched_getaffinity(0))


def jvm(args, log_path, timeout):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    cmd = ["java"] + [a for p in opens for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        # A fixed, pre-touched heap keeps GC sizing and resident memory the
        # same from run to run; peak RSS then moves with off-heap memory.
        # A fixed, pre-touched heap keeps GC sizing and resident memory the
        # same from run to run, so peak RSS moves with off-heap memory.
        "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch",
        "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
        "-cp", f"{CLASSES}:{SPARK_HOME}/jars/*", "perfbench.Main"] + args
    with open(log_path, "w") as out:
        return subprocess.run(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT,
                              timeout=timeout).returncode


def tail(samples):
    """Highest percentile with at least ten samples beyond it."""
    s = sorted(samples)
    if len(s) < 11:
        return (s[-1], 100.0) if s else (0.0, 0.0)
    i = len(s) - 11
    return s[i], 100.0 * (i + 1) / len(s)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true",
                    help="keep the run's work directory (outputs, result.json) for inspection")
    a = ap.parse_args()

    if not (SOURCES / "graft" / "SparkEntry.scala").exists():
        fail(f"program sources not found under {SOURCES}", 2)
    if not os.path.isdir(os.path.join(SPARK_HOME, "jars")):
        fail("SPARK_HOME must name a Spark installation", 2)
    build()
    work = BUILD / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--cpus", str(cores()), "--work", str(work),
                "--out", str(work / "result.json"),
                "--trace-out", str(BUILD / "traces" / f"{a.workload}-seed{a.seed}.json")]
        star_s = []
        if a.workload == "kpi_queries":
            import stargen
            for _ in range(3):
                t0 = time.perf_counter()
                stargen.generate(str(work / "data"), a.seed, STAR_SF)
                star_s.append(time.perf_counter() - t0)
            args += ["--data", str(work / "data")]
        t0 = time.perf_counter()
        rc = jvm(args, work / "jvm.log", timeout=160)
        log(f"jvm wall {time.perf_counter() - t0:.2f} s")
        if rc != 0 or not (work / "result.json").exists():
            sys.stderr.write((work / "jvm.log").read_text()[-4000:])
            fail(f"benchmark JVM exited with {rc}", 4)
        out = json.loads((work / "result.json").read_text())
        report(a, out, work, star_s)
    finally:
        if a.keep:
            log(f"work directory kept: {work}")
        else:
            shutil.rmtree(work, ignore_errors=True)


def report(a, out, work, star_s):
    res, setup = out["result"], out["setup"]
    setup_s = median(setup["session_s"]) + median(setup["prepare_s"]) + setup["warmup_s"] + median(star_s)
    log(f"setup: session {setup['session_s']}, inputs {setup['prepare_s']} + {star_s}, "
        f"warm-up {setup['warmup_s']:.2f} s; measured {res['measured_s']:.2f} s")
    problems = []  # unexpected failures: make the run incorrect
    if a.workload == "kpi_queries":
        bad = checks.check_queries(res, str(work / "data"))
        for q, (r, known) in sorted(bad.items()):
            if known:
                log(f"known defect: {q}: {r}")
            else:
                problems.append(f"{q}: {r}")
        execs = res["executions"]
        attempted = len(execs)
        failed = sum(1 for e in execs if not e["ok"] or e["query"] in bad)
        problems += [f"{e['query']}: execution failed" for e in execs if not e["ok"]]
        lat = [e["latency_s"] for e in execs if e["ok"] and e["pass"] < len(res["passes_s"])]
        rounds = sorted({e["pass"] for e in execs})
        kpi = [sum(e["latency_s"] for e in execs if e["pass"] == r and e["query"] in res["kpi"])
               for r in rounds]
        passes = res["passes_s"]
        throughput = len(res["oracles"]) * len(passes) / sum(passes)
        unit = "queries"
    else:
        routing = checks.check_files(res, stream=False)
        others = checks.check_warehouse(res) + checks.check_kpis(res)
        attempted = len(res["files"]) + 1 + len(checks.KPI_SQL)
        if "stream" in res:  # traced runs also drain the files through the sweep
            st = res["stream"]
            routing += checks.check_files(st, stream=True)
            others += checks.check_warehouse(st)
            attempted += len(st["files"]) + 1
        problems += [f"{n}: {r}" for n, r, known in routing if not known] + others
        for n, r, known in routing:
            if known:
                log(f"known defect: streaming sweep: {n}: {r}")
        failed = len(routing) + len(others)
        lat = [f["latency_s"] for f in res["files"] if f["latency_s"] >= 0]
        kpi = res["fresh_kpi_s"]
        log("fresh kpi reads " + json.dumps([round(x, 3) for x in kpi]))
        throughput = res["rows_loaded"] / res["drain_s"]
        unit = "rows"
        log(f"rows/s {throughput:.1f} = {throughput / BASELINE_ROWS_PER_S:.3f} x baseline "
            f"{BASELINE_ROWS_PER_S:.1f} rows/s")
    for p in problems:
        log(f"CHECK FAILED: {p}")
    t, pct = tail(lat)
    log(f"{a.workload}: {len(lat)} latency samples, tail (ten beyond it) = p{pct:.0f} "
        f"= {t:.4f} s; throughput counts {unit}; failed {failed}/{attempted}")
    log("latencies " + json.dumps(sorted(lat)))
    if a.workload == "kpi_queries":
        log("queries " + json.dumps({e["query"].split("_")[0] + f"#{e['pass']}": round(e["latency_s"], 3)
                                     for e in res["executions"]}))
    if a.trace:
        metrics = per_layer(res, out, lat)
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "throughput_per_s": (throughput, "1/s"),
            "latency_p50_s": (median(lat), "s"),
            "kpi_read_s": (median(kpi), "s"),
            "peak_rss_mb": (out["peak_rss_mb"], "MB"),
        }
    print(json.dumps({"correct": not problems, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


def per_layer(res, out, lat):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer"]
    layers = dict(res.get("layers", {}))
    layers["trace.spans"] = out["spans"]
    layers["trace.unit_wall_s"] = median(lat)
    return {m["name"]: (float(layers.get(m["name"], 0.0)), m["unit"]) for m in spec}


if __name__ == "__main__":
    main()
