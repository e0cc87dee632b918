"""Seeded, cached workload inputs for the production-sink benchmark.

Every corpus is a directory of 16 parquet files in the transcripts
schema, written once per (workload, size, seed) under the work
directory and reused by later runs with the same seed:

- ``tpch``: one-page UOB statements rendered by
  ``tpch_bridge.transcripts_from_tpch`` from TPC-H-shaped ``orders`` /
  ``lineitem`` tables that this module generates with a fixed seed (the
  content never changes); the run seed only shuffles the rows across
  the 16 files.
- ``synthetic``: ``fixtures.gen_transcripts`` with the run seed,
  truncated at a conversation boundary once a fixed turn count is
  reached, so every seed yields the same input size.

Rendering needs Spark. It runs in a child process, so generation never
warms the JVM whose set-up the benchmark times.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import check
import procstat

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_FILES = 16
TABLES_SEED = 42  # fixed TPC-H content, like a dbgen run
# tpch: orders (one turn each); synthetic: turns. "tiny" backs selftest.py
SIZES = {
    "bench": {"tpch": 60_000, "synthetic": 24_000},
    "tiny": {"tpch": 1_500, "synthetic": 300},
}
# rendered columns pinned to the types fixtures.write_transcripts_parquet
# writes
OUTPUT_TYPES = {"ts": pa.timestamp("us"), "turn_idx": pa.int32()}


@dataclass
class Corpus:
    path: str          # directory of N_FILES parquet files
    oracle: str        # directory of the oracle's output tables
    n_turns: int
    input_bytes: int   # UTF-8 bytes of text + tool
    gen_s: float       # generation + oracle time; ~0 from the cache

    def expected(self) -> dict[str, pa.Table]:
        """The oracle's output for this corpus (check.expected)."""
        return {name: pq.read_table(os.path.join(self.oracle,
                                                 f"{name}.parquet"))
                for name in check.SCHEMAS}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _tpch_tables(dest: str, n_orders: int) -> None:
    """orders + lineitem with the columns and value ranges of TPC-H
    dbgen that the statement renderer reads."""
    rng = np.random.default_rng(TABLES_SEED)
    i = np.arange(n_orders, dtype=np.int64)
    okey = (i // 8) * 32 + i % 8 + 1          # dbgen's sparse keys
    day = np.datetime64("1992-01-01", "D")
    odate = day + rng.integers(0, 2405, n_orders)
    n_lines = rng.integers(1, 8, n_orders)
    l_okey = np.repeat(okey, n_lines)
    l_odate = np.repeat(odate, n_lines)
    starts = np.cumsum(n_lines) - n_lines
    lineno = (np.arange(l_okey.size) - np.repeat(starts, n_lines) + 1)
    n_li = l_okey.size
    ship = l_odate + rng.integers(1, 122, n_li)
    returned = ship <= np.datetime64("1995-06-17", "D")
    flag = np.where(returned,
                    np.where(rng.random(n_li) < 0.5, "R", "A"), "N")
    us = "datetime64[us]"
    os.makedirs(dest, exist_ok=True)
    pq.write_table(pa.table({
        "o_orderkey": okey,
        "o_custkey": rng.integers(1, n_orders // 10 + 2, n_orders),
        "o_orderdate": pa.array(odate.astype(us)),
    }), os.path.join(dest, "orders.parquet"))
    pq.write_table(pa.table({
        "l_orderkey": l_okey,
        "l_partkey": rng.integers(1, 20_001, n_li),
        "l_suppkey": rng.integers(1, 1_001, n_li),
        "l_linenumber": pa.array(lineno.astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_returnflag": flag,
        "l_shipdate": pa.array(ship.astype(us)),
    }), os.path.join(dest, "lineitem.parquet"))


def render_tpch(tables: str, out_file: str) -> None:
    """Child-process entry: render the statements, sorted by conv_id so
    the seeded shuffle that follows is reproducible."""
    sys.path.insert(0, ROOT)
    from bank_statement_pdf_parser_spark.session import get_spark
    from bank_statement_pdf_parser_spark.sources.tpch_bridge import (
        transcripts_from_tpch)
    spark = get_spark(app="perfbench-render", master=f"local[{nproc()}]")
    try:
        t = transcripts_from_tpch(spark, tables).orderBy("conv_id").toArrow()
    finally:
        procstat.stop_jvm(spark)
    pq.write_table(_typed(t), out_file)


def _typed(t: pa.Table) -> pa.Table:
    for name, typ in OUTPUT_TYPES.items():
        i = t.schema.get_field_index(name)
        t = t.set_column(i, name, t.column(name).cast(typ))
    return t


def _write_shuffled(t: pa.Table, dest: str, seed: int) -> None:
    t = t.take(pa.array(np.random.default_rng(seed).permutation(t.num_rows)))
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    per = -(-t.num_rows // N_FILES)
    for k in range(N_FILES):
        pq.write_table(t.slice(k * per, per),
                       os.path.join(tmp, f"part-{k:05d}.parquet"),
                       row_group_size=1024)
    os.rename(tmp, dest)  # a complete directory is the cache marker


def _tpch_base(work: str, n_orders: int) -> str:
    return os.path.join(work, "cache", f"tpch-{n_orders}-rendered.parquet")


def _gen_tpch(work: str, n_orders: int, seed: int, dest: str) -> None:
    base = _tpch_base(work, n_orders)
    if not os.path.exists(base):
        tables = os.path.join(work, "cache", f"tpch-{n_orders}-tables")
        _tpch_tables(tables, n_orders)
        subprocess.run([sys.executable, os.path.abspath(__file__),
                        "render-tpch", tables, base + ".tmp"], check=True)
        os.rename(base + ".tmp", base)
    _write_shuffled(pq.read_table(base), dest, seed)


def _gen_synthetic(target: int, seed: int, dest: str) -> None:
    from bank_statement_pdf_parser_spark import fixtures
    # ~12 turns per conversation on average. Conversation i depends on
    # (seed, i) only, so a longer run extends a shorter one: generate a
    # little more than the target, then cut at the first conversation
    # boundary past it
    n_convs = target // 10 + 50
    rows = fixtures.gen_transcripts(n_convs=n_convs, seed=seed)
    while len(rows) <= target:
        n_convs *= 2
        rows = fixtures.gen_transcripts(n_convs=n_convs, seed=seed)
    cut = next((k for k in range(target, len(rows))
                if rows[k]["conv_id"] != rows[k - 1]["conv_id"]), len(rows))
    rows = rows[:cut]
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    fixtures.write_transcripts_parquet(rows, tmp, shuffle_seed=seed,
                                       n_files=N_FILES)
    os.rename(tmp, dest)


def prepare(work: str, kind: str, size: str, seed: int) -> Corpus:
    """The cached corpus for (kind, size, seed) and its oracle output,
    generating them first if absent. kind is 'tpch' or 'synthetic'."""
    n = SIZES[size][kind]
    dest = os.path.join(work, "cache", f"{kind}-{n}-seed{seed}")
    t0 = time.perf_counter()
    if not os.path.isdir(dest):
        if kind == "tpch":
            _gen_tpch(work, n, seed, dest)
        else:
            _gen_synthetic(n, seed, dest)
    # the seed only reorders the tpch rows, so all tpch seeds share one
    # oracle output
    oracle = (_tpch_base(work, n) if kind == "tpch" else dest) + ".oracle"
    if not os.path.isdir(oracle):
        tmp = oracle + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        for name, t in check.expected(read_rows(dest)).items():
            pq.write_table(t, os.path.join(tmp, f"{name}.parquet"))
        os.rename(tmp, oracle)
    gen_s = time.perf_counter() - t0
    t = pq.read_table(dest, columns=["text", "tool"])
    nbytes = sum(int(pc.sum(pc.binary_length(t.column(c))).as_py() or 0)
                 for c in ("text", "tool"))
    return Corpus(dest, oracle, t.num_rows, nbytes, gen_s)


def read_rows(path: str) -> list[dict]:
    """The corpus as the oracle's input rows."""
    return pq.read_table(
        path, columns=["conv_id", "turn_idx", "role", "text", "tool"]
    ).to_pylist()


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] != "render-tpch":
        sys.exit("usage: corpus.py render-tpch <tables_dir> <out_file>")
    render_tpch(sys.argv[2], sys.argv[3])
