#!/usr/bin/env python3
"""Self-test of the benchmark at a small size.

  python3 perfbench/selftest.py

1. Runs each workload end to end (--seconds 3: five ingest files, one query
   pass; the ingest run traced, so the streaming sweep is checked too) and
   requires a well-formed result line.
2. Shows that the output checks catch a wrong answer: on the kept outputs of
   those runs it corrupts one query result and misroutes one file, and
   requires the checks to fail.
Exits 0 when everything holds.
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import checks  # noqa: E402

SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def run(workload, trace):
    p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "7",
                        "--seconds", "3", "--trace", str(trace), "--keep"],
                       capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, f"{workload}: exit {p.returncode}\n{p.stderr[-3000:]}"
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    want = {m["name"] for m in SPEC["per_layer" if trace else "end_to_end"]}
    assert set(result["metrics"]) == want, set(result["metrics"]) ^ want
    assert result["correct"], f"{workload}: checks failed\n{p.stderr[-3000:]}"
    work = next(l.split(": ", 1)[1] for l in p.stderr.splitlines() if "work directory kept" in l)
    print(f"ok   {workload} trace={trace}: attempted {result['attempted']}, failed {result['failed']}")
    return Path(work)


def corrupt_query_result(work):
    res = json.loads((work / "result.json").read_text())["result"]
    assert not [q for q, (_, known) in checks.check_queries(res, str(work / "data")).items()
                if not known], "clean results must pass"
    name = "q1_daily_revenue"
    part = next((Path(res["results_dir"]) / name).glob("*.parquet"))
    t = pq.read_table(part)
    i = next(i for i, f in enumerate(t.schema) if pa.types.is_floating(f.type))
    col = t.column(i)
    t = t.set_column(i, t.schema.field(i), pc.add(col, pa.scalar(0.01, col.type)))
    pq.write_table(t, part)
    bad = checks.check_queries(res, str(work / "data"))
    assert name in bad and not bad[name][1], "a corrupted query result must fail its check"
    print(f"ok   corrupted {name} caught: {bad[name][0]}")


def misroute_file(work):
    res = json.loads((work / "result.json").read_text())["result"]
    assert not [f for f in checks.check_files(res, stream=False)], "clean routing must pass"
    f = next(f for f in res["files"] if f["outcome"] == "loaded")
    bucket = Path(res["bucket"])
    dst = bucket / "failed" / "validation_failed"
    shutil.move(bucket / "processed" / f["spec"]["name"], dst / f["spec"]["name"])
    failures = checks.check_files(res, stream=False)
    assert any(n == f["spec"]["name"] and not known for n, _, known in failures), \
        "a misrouted file must fail its check"
    print(f"ok   misrouted {f['spec']['name']} caught: {failures[0][1]}")
    # The sweep's known defect is flagged as known, never as correct.
    stream = res["stream"]
    defects = [x for x in checks.check_files(stream, stream=True) if x[2]]
    assert all(x[2] for x in checks.check_files(stream, stream=True)), "unexpected stream failure"
    print(f"ok   streaming sweep: {len(defects)} known-defect file(s) counted as failed")


def main():
    kpi = run("kpi_queries", 0)
    ingest = run("ingest_batch", 1)
    try:
        corrupt_query_result(kpi)
        misroute_file(ingest)
    finally:
        shutil.rmtree(kpi, ignore_errors=True)
        shutil.rmtree(ingest, ignore_errors=True)
    print("self-test passed")


if __name__ == "__main__":
    main()
