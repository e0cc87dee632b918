"""Traced run: per-layer metrics timed from outside the program.

Each layer action is a noop-sink write (``format("noop")``) of the
frame a layer's public function returns, recorded as a span around the
call. A layer's ``*_self_s`` is its action's wall time minus that of the
action for its input frame; ``*_cpu_s`` is the same difference in CPU
seconds of the JVM and its Python workers (procstat.py).

Spans (name, start, end, parent, run id, attributes) stay in memory and
are written as JSON lines under ``.perfbench_work/traces/`` when the run
ends. Tracing overhead is the traced sink's wall time minus an untraced
sink run's, in the same process.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from contextlib import contextmanager

import check
import procstat

KERNEL_BATCH = 1024  # get_spark's arrow.maxRecordsPerBatch default


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name, "run_id": self.run_id,
               "parent": self._open[-1] if self._open else None, **attrs}
        self.spans.append(rec)
        self._open.append(rec["id"])
        cpu0 = procstat.cpu_s()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["cpu_s"] = procstat.cpu_s() - cpu0
            self._open.pop()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _inproc_kernel_s(turns_arrow, profile: str = "full") -> tuple[float, int]:
    """Single-threaded kernel time over ``turns_arrow`` in this
    process, and the records it emitted."""
    from bank_statement_pdf_parser_spark.operators.tokenize_arrow import (
        tokenize_arrow_kernel)
    batches = turns_arrow.to_batches(max_chunksize=KERNEL_BATCH)
    kernel = tokenize_arrow_kernel(profile)
    t0 = time.perf_counter()
    n = sum(b.num_rows for b in kernel(iter(batches)))
    return time.perf_counter() - t0, n


def traced(bench, n_buckets: int, work: str) -> dict:
    """The per-layer run for ``bench``; returns the result object."""
    import pyarrow.compute as pc
    from pyspark.sql import functions as F

    from bank_statement_pdf_parser_spark.functions.normalize import (
        normalize_records)
    from bank_statement_pdf_parser_spark.plans.extract import (
        build_records, build_spans, build_transactions)
    from bank_statement_pdf_parser_spark.sources.transcripts import (
        load_transcripts, with_resolved_payload)

    tr = Tracer(f"{bench.workload}-{bench.seed}-{uuid.uuid4().hex[:8]}")
    m: dict[str, tuple[float, str]] = {}
    with tr.span("workload", workload=bench.workload, seed=bench.seed):
        with tr.span("session.start") as s_start:
            bench.start_session()
        with tr.span("session.warmup") as s_warm:
            bench.warm_up()
        m["session.start_s"] = (_dur(s_start), "s")
        m["session.warmup_s"] = (_dur(s_warm), "s")

        base = None
        if bench.workload == "resume_half":
            with tr.span("checkpoint.base_sink"):
                base = bench.sink_base()

        src = load_transcripts(bench.spark, bench.corpus.path)
        turns = with_resolved_payload(src)
        rec_txn = build_records(turns, profile="transactions")
        rec_spans = build_records(turns, profile="spans")
        txns = build_transactions(rec_txn)
        spans = build_spans(None, rec_spans, records_include_html=True)
        actions = {
            "transcripts.resolve": turns,
            "tokenize_arrow.full": build_records(turns, profile="full"),
            "tokenize_arrow.transactions": rec_txn,
            "normalize": normalize_records(
                rec_txn.filter(F.col("bank") != "HTML")),
            "extract.transactions": txns,
            "tokenize_arrow.spans": rec_spans,
            "extract.spans": spans,
        }
        # two passes; the metrics come from the second, after the first
        # has compiled these plans
        for rep in (0, 1):
            sp = {}
            for name, df in actions.items():
                with tr.span(name, rep=rep) as sp[name]:
                    _noop(df)
        wall = {name: _dur(s) for name, s in sp.items()}
        cpu = {name: s["cpu_s"] for name, s in sp.items()}
        with tr.span("count.extract_outputs"):
            n_txns, n_spans = txns.count(), spans.count()

        with tr.span("collect.turns"):
            t = turns.toArrow().sort_by([("conv_id", "ascending"),
                                         ("turn_idx", "ascending")])
        is_html = pc.equal(t.column("kind"), "HTML")
        with tr.span("tokenize_arrow.inproc_stmt"):
            stmt_s, stmt_n = _inproc_kernel_s(t.filter(pc.invert(is_html)))
        with tr.span("tokenize_arrow.inproc_html"):
            html_s, html_n = _inproc_kernel_s(t.filter(is_html))

        m["transcripts.resolve_s"] = (wall["transcripts.resolve"], "s")
        m["transcripts.resolve_cpu_s"] = (cpu["transcripts.resolve"], "core-s")
        m["transcripts.turns_kept"] = (t.num_rows, "count")
        m["transcripts.turns_html"] = (int(pc.sum(is_html).as_py() or 0),
                                       "count")
        m["tokenize_arrow.full_self_s"] = (
            wall["tokenize_arrow.full"] - wall["transcripts.resolve"], "s")
        m["tokenize_arrow.full_cpu_s"] = (
            cpu["tokenize_arrow.full"] - cpu["transcripts.resolve"], "core-s")
        m["tokenize_arrow.records_out"] = (stmt_n + html_n, "count")
        m["tokenize_arrow.inproc_stmt_s"] = (stmt_s, "s")
        m["tokenize_arrow.inproc_html_s"] = (html_s, "s")
        m["normalize.self_s"] = (
            wall["normalize"] - wall["tokenize_arrow.transactions"], "s")
        m["normalize.cpu_s"] = (
            cpu["normalize"] - cpu["tokenize_arrow.transactions"], "core-s")
        m["extract.transactions_self_s"] = (
            wall["extract.transactions"] - wall["normalize"], "s")
        m["extract.spans_self_s"] = (
            wall["extract.spans"] - wall["tokenize_arrow.spans"], "s")
        m["extract.txns_out"] = (n_txns, "count")
        m["extract.spans_out"] = (n_spans, "count")

        # the sink, untraced and inside a span in the order A B B A, so
        # a drift that is linear over the four runs cancels in the
        # tracing overhead
        want = bench.corpus.expected()
        sinks = [_sink(bench, tr if traced else None, base, n_buckets, want)
                 for traced in (False, True, True, False)]
        traced_s = [s["wall"] for s in sinks[1:3]]
        plain_s = [sinks[0]["wall"], sinks[3]["wall"]]
        last = sinks[2]
        run_s = sum(traced_s) / 2
        m["checkpoint.run_s"] = (run_s, "s")
        m["checkpoint.peak_rss_mb"] = (last["peak_rss_mb"], "MiB")
        m["checkpoint.self_s"] = (run_s - m["tokenize_arrow.full_self_s"][0]
                                  - m["transcripts.resolve_s"][0], "s")
        m["checkpoint.bytes_written"] = (
            sum(st[0] for st in last["written"].values()), "bytes")
        m["checkpoint.files_written"] = (len(last["written"]), "count")
        m["checkpoint.buckets_committed"] = (
            len(last["result"].buckets_done), "count")
        m["checkpoint.buckets_skipped"] = (
            len(last["result"].buckets_skipped), "count")
        m["trace.overhead_s"] = (run_s - sum(plain_s) / 2, "s")

    path = os.path.join(work, "traces", f"{tr.run_id}.jsonl")
    tr.write(path)
    failed = [s["problems"] for s in sinks if s["problems"]]
    for p in failed:
        print(f"# CHECK FAILED: {'; '.join(p)}")
    print(f"# spans written to {os.path.relpath(path, os.getcwd())}")
    for k, (v, unit) in m.items():
        print(f"{k:32s} {v:14.4f} {unit}")
    return {"correct": not failed, "attempted": len(sinks),
            "failed": len(failed),
            "metrics": {k: {"value": v, "unit": unit}
                        for k, (v, unit) in m.items()}}


def _sink(bench, tracer: Tracer | None, base: str | None, n_buckets: int,
          want) -> dict:
    """One checked sink run, recorded as a span when ``tracer`` is set.
    With ``base`` (resume_half) the run is a resume of that output."""
    out = base or bench.new_out()
    if base:
        bench.uncommit(base)
    before = _files(out)
    job = bench.extract(out)
    procstat.reset_peak_rss()
    if tracer is None:
        t0 = time.perf_counter()
        res = job()
        wall = time.perf_counter() - t0
    else:
        with tracer.span("checkpoint.run") as s:
            res = job()
        wall = _dur(s)
    peak = procstat.peak_rss_mib()
    run = {"wall": wall, "result": res, "peak_rss_mb": peak,
           "written": {p: st for p, st in _files(out).items()
                       if before.get(p) != st},
           "problems": check.problems(out, n_buckets, want)}
    if not base:
        shutil.rmtree(out)
    return run


def _files(root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
    return out
