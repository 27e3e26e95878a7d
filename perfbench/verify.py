"""Output gate: every output row against the pure-Python oracle, lineage
totals against the input, and the section set against extract_noop's."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.inputs import ORACLE_SCHEMA

KEY = [("conv_id", "ascending"), ("turn_idx", "ascending")]
SECTION_COLS = ["conv_id", "turn_idx", "section_id"]


def load_oracle(path: str) -> pa.Table:
    return pq.read_table(path).sort_by(KEY)


def read_output(path: str) -> pa.Table:
    cols = ORACLE_SCHEMA.names + ["section_id"]
    return pq.read_table(path, columns=cols).sort_by(KEY)


def bad_rows(out: pa.Table, oracle: pa.Table) -> int:
    """Rows whose extraction columns differ from the oracle (a row-count
    difference makes every row of the longer side count)."""
    if out.num_rows != oracle.num_rows:
        return max(out.num_rows, oracle.num_rows)
    got = out.select(ORACLE_SCHEMA.names).cast(ORACLE_SCHEMA)
    if got.equals(oracle):
        return 0
    return sum(a != b for a, b in zip(got.to_pylist(), oracle.to_pylist()))


def sections(out: pa.Table) -> pa.Table:
    return out.select(SECTION_COLS).cast(
        pa.schema([("conv_id", pa.string()), ("turn_idx", pa.int32()), ("section_id", pa.int64())])
    )


def load_sections(path: str) -> pa.Table:
    return pq.read_table(path).sort_by(KEY)


def lineage_errors(ckpt: str, n_buckets: int, turns: int, spans: int, lost=None) -> list:
    """Latest COMMITTED row per bucket must cover every bucket and sum to
    the input's turns and the oracle's spans; on a resume the newest run
    must have committed exactly the lost buckets."""
    t = pq.read_table(
        ckpt, columns=["run_id", "partition_id", "row_count", "span_count", "status", "committed_at"]
    ).to_pandas()
    t = t[t["status"] == "COMMITTED"].sort_values("committed_at")
    latest = t.groupby("partition_id").tail(1)
    errs = []
    if sorted(latest["partition_id"]) != list(range(n_buckets)):
        errs.append("lineage does not cover every bucket")
    if int(latest["row_count"].sum()) != turns:
        errs.append(f"lineage row_count {int(latest['row_count'].sum())} != {turns} turns")
    if int(latest["span_count"].sum()) != spans:
        errs.append(f"lineage span_count {int(latest['span_count'].sum())} != {spans} spans")
    if lost is not None:
        newest = t["run_id"].iloc[-1]
        got = sorted(t.loc[t["run_id"] == newest, "partition_id"])
        if got != sorted(lost):
            errs.append(f"resume committed {got}, expected {sorted(lost)}")
    return errs


def data_files(path: str, pts=None) -> list:
    """Parquet data files under ``path`` (only ``pt=`` dirs in ``pts``)."""
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        if pts is not None and os.path.basename(root) not in {f"pt={p}" for p in pts}:
            continue
        out += [os.path.join(root, f) for f in files if f.endswith(".parquet")]
    return out
