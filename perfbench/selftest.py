"""Self-test of the benchmark at tiny size (1,500 TPC-H orders, ~300
synthetic turns).

    python3 perfbench/selftest.py

For every workload it runs the command once end to end and twice
traced, each in its own process, and asserts that

- every metric BENCHMARK.json names is printed, with its unit;
- the count metrics of the two traced runs are identical;
- the output checks pass.

It then sinks the tiny synthetic corpus in this process and asserts
that a copy of the output with one transaction row dropped fails the
oracle check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import run  # noqa: E402

COUNT_MARKERS = ("_out", ".turns_", ".buckets_", ".files_written")


def _cli(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--size", "tiny"],
        cwd=run.ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, proc.stdout
    for name, m in result["metrics"].items():
        # the human-readable table carries the same name and unit
        assert any(ln.split()[:1] == [name] and ln.split()[-1] == m["unit"]
                   for ln in lines), (name, lines)
    if not trace:
        assert any(ln.split()[:1] == ["failed_frac"] for ln in lines)
    return result


def _assert_metrics(result: dict, declared: list[dict]) -> None:
    got = {k: m["unit"] for k, m in result["metrics"].items()}
    assert got == {d["name"]: d["unit"] for d in declared}, got


def test_cli(spec: dict) -> None:
    for workload in sorted(run.WORKLOADS):
        _assert_metrics(_cli(workload, 0), spec["end_to_end"])
        a, b = _cli(workload, 1), _cli(workload, 1)
        _assert_metrics(a, spec["per_layer"])
        counts = [k for k in a["metrics"]
                  if any(mark in k for mark in COUNT_MARKERS)]
        assert len(counts) == 8, counts
        for k in counts:
            assert a["metrics"][k]["value"] == b["metrics"][k]["value"], k
        print(f"ok {workload}")


def test_check_catches_dropped_row() -> None:
    tmp = os.path.join(run.WORK, "tmp", f"selftest-{os.getpid()}")
    run._isolate_scratch(tmp)
    bench = run.Bench("synthetic_mixed", 3, "tiny")
    try:
        bench.start_session()
        out = bench.new_out()
        bench.extract(out)()
        want = bench.corpus.expected()
        assert check.problems(out, run.N_BUCKETS, want) == []

        bad = out + "-dropped"
        shutil.copytree(out, bad)
        txn_root = os.path.join(bad, "transactions")
        part = next(os.path.join(d, f)
                    for d, _, files in sorted(os.walk(txn_root))
                    for f in sorted(files)
                    if f.endswith(".parquet")
                    and pq.ParquetFile(os.path.join(d, f)).metadata.num_rows)
        t = pq.read_table(part)
        pq.write_table(t.slice(1), part)
        found = check.problems(bad, run.N_BUCKETS, want)
        assert any(p.startswith("transactions:") for p in found), found
        print("ok dropped transaction row fails the oracle check")
    finally:
        bench.stop()
        shutil.rmtree(bench.dir, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> None:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    test_cli(spec)
    test_check_catches_dropped_row()


if __name__ == "__main__":
    main()
