"""Tiny-scale self-test of the benchmark.

    python3 perfbench/selftest.py

Run from the repository root. It checks that

- the reference checks count a tampered output row as a failed op;
- every workload, traced and untraced, exits 0 and prints as its last
  line exactly the result keys, ``correct`` true, no failed op, and
  every metric of BENCHMARK.json by name with its unit;
- a directory holding only BENCHMARK.json and perfbench/ makes the
  runner exit non-zero without printing a result.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
sys.path[:0] = [ROOT]

from perfbench import inputs, reference  # noqa: E402


def check_reference() -> None:
    events = inputs.ingest_events(7, 500)
    want_sink, want_dlq = reference.ingest_expected(events)
    assert want_sink and want_dlq, "the generator must produce sink and DLQ rows"
    sink_rows = [{"event_id": k, "country": v[0], "source": v[1], "total": v[2]}
                 for k, v in want_sink.items()]
    by_id = {ev["event_id"]: ev for ev in events}
    dlq_rows = [{"component": "ingestor:events", "error": err,
                 "payload": inputs.ingest_line(by_id[k], 0)} for k, err in want_dlq.items()]
    expected = (want_sink, want_dlq)
    assert not reference.check_ingest(sink_rows, dlq_rows, expected)
    sink_rows[0] = dict(sink_rows[0], total=sink_rows[0]["total"] + 1)
    assert len(reference.check_ingest(sink_rows, dlq_rows[1:], expected)) == 2
    assert len(reference.check_ingest(sink_rows + sink_rows[1:2], dlq_rows, expected)) == 2


def check_run(bench: dict, workload: str, trace: int) -> None:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
           "--seconds", "1", "--trace", str(trace), "--scale", "0.1"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, f"{workload} trace={trace} exited {out.returncode}:\n{out.stderr[-3000:]}"
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["correct"] is True and result["failed"] == 0, result
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    specs = bench["per_layer" if trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in specs}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want, f"{workload}: metric names/units differ: {set(got) ^ set(want)}"
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], float) and math.isfinite(v["value"]), (k, v)
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values()), result["metrics"]
    print(f"ok  {workload} trace={trace} attempted={result['attempted']}", flush=True)


def check_bare_dir() -> None:
    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "ingest", "--seed", "1",
             "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180)
        assert out.returncode != 0 and not out.stdout.strip(), (out.returncode, out.stdout)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("ok  bare directory exits non-zero", flush=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    check_reference()
    print("ok  reference checks catch tampered rows", flush=True)
    check_bare_dir()
    for w in bench["workloads"]:
        for trace in (0, 1):
            check_run(bench, w["name"], trace)
    return 0


if __name__ == "__main__":
    sys.exit(main())
