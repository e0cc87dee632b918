"""Output checks run after every timed sink run.

The durable outputs are read back with pyarrow, not Spark, so the check
shares no code path with the program under test:

- spans and transactions, sorted on (conv_id, turn_idx, idx), must equal
  ``oracle.parse_transcripts`` over the same input rows. Comparing the
  complete tables (not sets) makes rows duplicated by a stale partition
  fail;
- every bucket must have a manifest whose ``n_spans`` / ``n_txns``
  equal the rows on disk in that bucket's partition.
"""

from __future__ import annotations

import json
import os
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq

_MONEY = pa.decimal128(18, 2)
SCHEMAS = {
    "spans": pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()),
        ("span_idx", pa.int32()), ("span_start", pa.int32()),
        ("span_end", pa.int32()), ("span_kind", pa.string()),
        ("text", pa.string())]),
    "transactions": pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()),
        ("txn_idx", pa.int32()), ("bank", pa.string()),
        ("txn_date", pa.date32()), ("value_date", pa.date32()),
        ("description", pa.string()), ("ref", pa.string()),
        ("debit", _MONEY), ("credit", _MONEY), ("balance", _MONEY),
        ("page", pa.int32()), ("line_start", pa.int32()),
        ("line_end", pa.int32())]),
}
_CENT = Decimal("0.01")


def _sorted(t: pa.Table) -> pa.Table:
    return t.sort_by([(c, "ascending") for c in t.column_names[:3]])


def expected(rows: list[dict]) -> dict[str, pa.Table]:
    """Oracle spans and transactions as sorted tables."""
    from bank_statement_pdf_parser_spark import oracle
    spans, txns = oracle.parse_transcripts(rows)
    for t in txns:
        for c in ("debit", "credit", "balance"):
            if t[c] is not None:
                t[c] = Decimal(t[c]).quantize(_CENT)
    return {name: _sorted(pa.Table.from_pylist(out, schema=SCHEMAS[name]))
            for name, out in (("spans", spans), ("transactions", txns))}


def _read(path: str, schema: pa.Schema) -> pa.Table:
    if not os.path.isdir(path):
        return schema.empty_table()
    return _sorted(pq.read_table(path, columns=schema.names).cast(schema))


def _first_difference(got: pa.Table, exp: pa.Table):
    for a, b in zip(got.to_pylist(), exp.to_pylist()):
        if a != b:
            return a, b
    return None


def _rows_on_disk(part_dir: str) -> int:
    if not os.path.isdir(part_dir):
        return 0
    return sum(pq.ParquetFile(os.path.join(part_dir, f)).metadata.num_rows
               for f in os.listdir(part_dir) if f.endswith(".parquet"))


def problems(out_dir: str, n_buckets: int,
             want: dict[str, pa.Table]) -> list[str]:
    """Every way the sink output under ``out_dir`` differs from the
    oracle and from its own manifests; empty when it is correct."""
    found = []
    for name, exp in want.items():
        got = _read(os.path.join(out_dir, name), SCHEMAS[name])
        if not got.equals(exp):
            found.append(f"{name}: {got.num_rows} rows on disk, oracle has "
                         f"{exp.num_rows}, first difference "
                         f"{_first_difference(got, exp)}")
    for b in range(n_buckets):
        path = os.path.join(out_dir, "_manifest", f"bucket-{b}.json")
        if not os.path.exists(path):
            found.append(f"bucket {b}: no manifest")
            continue
        with open(path) as fh:
            m = json.load(fh)
        for key, ds in (("n_spans", "spans"), ("n_txns", "transactions")):
            disk = _rows_on_disk(os.path.join(out_dir, ds, f"bucket={b}"))
            if m[key] != disk:
                found.append(f"bucket {b}: manifest {key}={m[key]}, "
                             f"{disk} rows on disk")
    return found
