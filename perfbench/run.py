"""Production-sink benchmark: ``CheckpointedExtract.run`` end to end.

    python3 perfbench/run.py --workload tpch_uob --seed 1 \
        --seconds 10 --trace 0

Each workload runs the checkpointed extraction job at the defaults of
``run_extract.py`` (16 buckets, 4 per job, fused mode) on the session
``get_spark`` builds with master ``local[<nproc>]`` and no other
settings. After every timed run the durable outputs are checked against
the oracle and the manifests (check.py).

``--trace 0`` prints the end-to-end metrics (median over the timed
runs); ``--trace 1`` runs layers.py instead, which times each layer's
public functions as spans and prints the per-layer metrics. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (name -> value and unit). Workload rationale and the
layer -> metric table are in README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, ROOT)  # the program under test, from source
sys.path.insert(0, HERE)

import check  # noqa: E402
import corpus  # noqa: E402
import procstat  # noqa: E402

# run_extract.py defaults
N_BUCKETS, BUCKETS_PER_JOB, MODE = 16, 4, "fused"
# set-ups per run; setup_s is their median
N_SETUPS = 3
# warm-up slice: one corpus file per core, so the warm-up starts as many
# Python workers as the timed runs use
WARM_FILES = min(corpus.N_FILES, corpus.nproc())
# resume_half: manifests deleted before each timed resume
RESUME_DROPPED = 8
# timed runs at least; the JVM's JIT compiler is busiest in the first
# (~6.8 s of compile time against ~3.5 s in the next two, measured on
# tpch_uob), so the median never rests on it
MIN_RUNS = 3
# workload -> corpus kind. BENCHMARK.json lists tpch_uob and resume_half;
# synthetic_mixed (a fresh sink of the resume corpus) stays runnable by
# hand but does not fit BENCHMARK.json's run budget (README.md)
WORKLOADS = {"tpch_uob": "tpch", "synthetic_mixed": "synthetic",
             "resume_half": "synthetic"}


class Bench:
    """One workload run: its corpus, its scratch directory and the
    current Spark session."""

    def __init__(self, workload: str, seed: int, size: str):
        self.workload, self.seed, self.size = workload, seed, size
        self.corpus = corpus.prepare(WORK, WORKLOADS[workload], size, seed)
        self.dir = os.path.join(WORK, "runs", f"{workload}-{os.getpid()}")
        self.warm_path = os.path.join(self.dir, "warm-input")
        os.makedirs(self.warm_path)
        for f in sorted(os.listdir(self.corpus.path))[:WARM_FILES]:
            shutil.copyfile(os.path.join(self.corpus.path, f),
                            os.path.join(self.warm_path, f))
        # resume_half: the buckets left uncommitted; sink_base() rebalances
        self.dropped = sorted(random.Random(self.seed).sample(
            range(N_BUCKETS), RESUME_DROPPED))
        self.spark = None
        self._stopped = []  # see start_session
        self._n = 0

    # -- session ------------------------------------------------------------
    def start_session(self) -> None:
        from bank_statement_pdf_parser_spark.session import get_spark
        if self.spark is not None:
            self.spark.stop()
            # ensure_shipped keys shipped contexts by id(); holding the
            # stopped one keeps a new context from reusing its id
            self._stopped.append(self.spark)
        self.spark = get_spark(app=f"perfbench-{self.workload}",
                               master=f"local[{corpus.nproc()}]")

    def stop(self) -> None:
        """Stop the session and the JVM behind it."""
        if self.spark is not None:
            procstat.stop_jvm(self.spark)
            self.spark = None

    # -- the job ------------------------------------------------------------
    def new_out(self) -> str:
        self._n += 1
        return os.path.join(self.dir, f"out-{self._n}")

    def extract(self, out: str, path: str | None = None):
        from bank_statement_pdf_parser_spark.sources.checkpoint import (
            CheckpointedExtract)
        from bank_statement_pdf_parser_spark.sources.transcripts import (
            load_transcripts)
        df = load_transcripts(self.spark, path or self.corpus.path)
        ck = CheckpointedExtract(out, f"bench-{self._n}", N_BUCKETS,
                                 BUCKETS_PER_JOB, mode=MODE)
        return lambda: ck.run(df)

    def uncommit(self, out: str) -> None:
        """Leave ``out`` as a crash after the writes of the dropped
        buckets but before their manifest commits leaves it."""
        for b in self.dropped:
            with contextlib.suppress(FileNotFoundError):  # a failed resume
                os.remove(os.path.join(out, "_manifest", f"bucket-{b}.json"))

    def sink_base(self) -> str:
        """resume_half: sink the whole corpus, then pick the buckets each
        timed resume redoes. The seed picks them among the halves that
        hold 50 ± 1% of the input rows, so every seed resumes the same
        amount of work (the rows of a random half differed by ~10%
        between seeds)."""
        base = self.new_out()
        res = self.extract(base)()
        rows = {m["partition_id"]: m["rows_in"] for m in res.metrics}
        total = sum(rows.values())
        rng = random.Random(self.seed)
        best = None
        for _ in range(10_000):
            pick = rng.sample(range(N_BUCKETS), RESUME_DROPPED)
            off = abs(sum(rows[b] for b in pick) - total / 2)
            if best is None or off < best[0]:
                best = (off, pick)
            if off <= 0.01 * total:
                break
        self.dropped = sorted(best[1])
        return base

    def warm_up(self) -> None:
        out = self.new_out()
        self.extract(out, self.warm_path)()
        if self.workload == "resume_half":
            self.uncommit(out)
            self.extract(out, self.warm_path)()
        shutil.rmtree(out)


def bytes_under(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def measure(bench: Bench, seconds: float) -> dict:
    """Set up N_SETUPS times, then time sink runs until their summed
    wall time reaches ``seconds``, checking each run's output.

    Outputs stay in the page cache: each run's files are deleted or
    overwritten long before the kernel's 30 s writeback expiry. One sync
    up front flushes whatever earlier processes left dirty. (Syncing
    before every run instead made each resume delete on-disk files,
    which on an ext4 volume mounted with ``discard`` took ~5 s per
    resume against ~2.2 s, with a wide spread.)"""
    os.sync()
    setups = []
    for _ in range(N_SETUPS):
        t0 = time.perf_counter()
        bench.start_session()
        bench.warm_up()
        setups.append(time.perf_counter() - t0)

    want = bench.corpus.expected()
    base = None
    if bench.workload == "resume_half":
        t0 = time.perf_counter()
        base = bench.sink_base()
        base_s = time.perf_counter() - t0
        print(f"# resume_half base sink {base_s:.3f} s, "
              f"resumed buckets {bench.dropped}")

    runs, failures = [], []
    while ((len(runs) + len(failures) < MIN_RUNS
            or sum(r["wall"] for r in runs) < seconds)
           and len(failures) < 3):
        out = base or bench.new_out()
        if base:
            bench.uncommit(base)
        job = bench.extract(out)
        procstat.reset_peak_rss()
        steal0, cpu0 = procstat.steal_s(), procstat.cpu_s()
        t0 = time.perf_counter()
        try:
            res = job()
        except Exception:  # noqa: BLE001 — a failed run is counted
            failures.append(traceback.format_exc())
            if not base:
                shutil.rmtree(out, ignore_errors=True)
            continue
        wall = time.perf_counter() - t0
        cpu = procstat.cpu_s() - cpu0
        rss = procstat.peak_rss_mib()
        steal = procstat.steal_s() - steal0
        bad = check.problems(out, N_BUCKETS, want)
        if bad:
            failures.append("; ".join(bad))
        else:
            runs.append({
                "wall": wall,
                "turns_per_s": sum(m["rows_in"] for m in res.metrics) / wall,
                "cpu_core_s": cpu, "peak_rss_mb": rss, "steal_s": steal,
                "write_amplification":
                    bytes_under(out) / bench.corpus.input_bytes})
        if not base:
            shutil.rmtree(out)
    return {"setups": setups, "runs": runs, "failures": failures}


# the end-to-end metrics of BENCHMARK.json
UNITS = {"setup_s": "s", "turns_per_s": "turns/s", "cpu_core_s": "core-s",
         "write_amplification": "ratio"}


def report(bench: Bench, m: dict) -> dict:
    runs, failures = m["runs"], m["failures"]
    attempted = len(runs) + len(failures)
    for f in failures:
        print(f"# FAILED RUN: {f}", file=sys.stderr)
    print(f"# workload={bench.workload} seed={bench.seed} "
          f"size={bench.size} turns={bench.corpus.n_turns} "
          f"input_bytes={bench.corpus.input_bytes} "
          f"gen_s={bench.corpus.gen_s:.3f} runs={attempted}")
    if not runs:
        raise SystemExit("no timed run succeeded")
    values = {"setup_s": statistics.median(m["setups"])}
    for k in ("turns_per_s", "cpu_core_s", "write_amplification"):
        values[k] = statistics.median([r[k] for r in runs])
    for k, v in values.items():
        print(f"{k:20s} {v:14.4f} {UNITS[k]}")
    # printed, not bounded: see README.md
    print(f"{'peak_rss_mb':20s} "
          f"{statistics.median([r['peak_rss_mb'] for r in runs]):14.4f} MiB")
    print(f"{'failed_frac':20s} {len(failures) / attempted:14.4f} ratio")
    print(f"# setups_s={[round(s, 3) for s in m['setups']]} "
          f"walls_s={[round(r['wall'], 3) for r in runs]} "
          f"peak_rss_mb={[round(r['peak_rss_mb']) for r in runs]} "
          f"steal_s={[round(r['steal_s'], 3) for r in runs]}")
    return {"correct": not failures, "attempted": attempted,
            "failed": len(failures),
            "metrics": {k: {"value": v, "unit": UNITS[k]}
                        for k, v in values.items()}}


def _isolate_scratch(tmp: str) -> None:
    """Keep Spark's and Python's scratch files inside the work tree."""
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(corpus.SIZES), default="bench",
                    help="input size; 'tiny' backs selftest.py")
    args = ap.parse_args(argv)
    t_start = time.perf_counter()
    try:
        import bank_statement_pdf_parser_spark  # noqa: F401
    except ImportError as e:
        raise SystemExit(f"the program is not beside the benchmark: {e}")

    tmp = os.path.join(WORK, "tmp", str(os.getpid()))
    _isolate_scratch(tmp)
    try:
        bench = Bench(args.workload, args.seed, args.size)
        try:
            if args.trace:
                import layers
                result = layers.traced(bench, N_BUCKETS, WORK)
            else:
                result = report(bench, measure(bench, args.seconds))
        finally:
            bench.stop()
            shutil.rmtree(bench.dir, ignore_errors=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(f"# process_s={time.perf_counter() - t_start:.1f}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
