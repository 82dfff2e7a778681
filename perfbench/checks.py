"""Output checks and checkpoint readers, independent of the package.

Everything here runs outside the timed windows and uses only pyarrow,
the filesystem and (for queries) DuckDB:

- ``expected_layout`` is the reference decode: the reference consumer
  writes ``partition_{p}_batch_{b}.parquet`` holding ``batch_size``
  consecutive payloads of partition ``p`` in offset order (the last
  batch may be short), decoded as UTF-8 with null or invalid UTF-8
  becoming ``""`` (reference main.rs:240-247).
- ``check_sink_dir`` compares a sink directory with that layout: file
  names, the REQUIRED ``b`` column, per-file counts and values.
- ``source_batches`` / ``commit_times`` read a streaming checkpoint:
  which input file each micro-batch took, and when each batch's commit
  was written.
- ``compare_results`` is the oracle comparison of the repository's
  ``tools/verify_oracle.py``: column names, row count, and the multiset
  of normalised row values. It is restated rather than imported because
  importing that tool puts a fixed checkout path first on ``sys.path``,
  which could load another copy of the package than the one under test.
"""

from __future__ import annotations

import datetime
import json
import math
import os
import re
import urllib.parse
from collections import Counter
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


def reference_decode(values: pa.Array) -> list[str]:
    out = []
    for v in values.to_pylist():
        if v is None:
            out.append("")
            continue
        try:
            out.append(v.decode("utf-8"))
        except UnicodeDecodeError:
            out.append("")
    return out


def expected_layout(inputs: pa.Table, batch_size: int) -> dict[str, pa.StringArray]:
    """``{file name: payloads}`` for Kafka-shaped records ``inputs``."""
    inputs = inputs.sort_by([("partition", "ascending"), ("offset", "ascending")])
    layout: dict[str, pa.StringArray] = {}
    for p in pc.unique(inputs["partition"]).to_pylist():
        rows = inputs.filter(pc.equal(inputs["partition"], p))
        decoded = pa.array(reference_decode(rows["value"]), pa.string())
        for b, start in enumerate(range(0, len(decoded), batch_size)):
            layout[f"partition_{p}_batch_{b}.parquet"] = decoded[start : start + batch_size]
    return layout


@dataclass
class SinkCheck:
    """Result of comparing one sink directory with its expected layout."""

    files: int = 0
    rows: int = 0
    bytes_out: int = 0
    wrong_rows: int = 0
    problems: list[str] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return not self.problems


def check_sink_dir(out_dir: str, expected: dict[str, pa.StringArray]) -> SinkCheck:
    """Lost, duplicated or misplaced rows, missing or misnamed files and a
    nullable ``b`` are problems (the drain failed); a row whose value
    differs from the reference decode is a wrong row."""
    res = SinkCheck()
    present = sorted(f for f in os.listdir(out_dir) if not f.startswith((".", "_")))
    if missing := sorted(set(expected) - set(present)):
        res.problems.append(f"missing files {missing[:3]}")
    if extra := sorted(set(present) - set(expected)):
        res.problems.append(f"unexpected files {extra[:3]}")
    for name in sorted(set(present) & set(expected)):
        path = os.path.join(out_dir, name)
        table = pq.read_table(path)
        res.files += 1
        res.rows += table.num_rows
        res.bytes_out += os.path.getsize(path)
        schema_field = table.schema.field(0) if table.num_columns == 1 else None
        if (
            schema_field is None
            or schema_field.name != "b"
            or schema_field.type != pa.string()
            or schema_field.nullable
        ):
            res.problems.append(f"{name}: schema {table.schema} is not REQUIRED string b")
            continue
        got, want = table["b"].combine_chunks(), expected[name]
        if len(got) != len(want):
            res.problems.append(f"{name}: {len(got)} rows, expected {len(want)}")
            continue
        if not got.equals(want):
            res.wrong_rows += sum(g != w for g, w in zip(got.to_pylist(), want.to_pylist()))
    return res


# -- streaming checkpoints -----------------------------------------------

_LOG_NAME = re.compile(r"^(\d+)(\.compact)?$")


def source_batches(checkpoint_dir: str, source: int = 0) -> dict[str, int]:
    """``{input file path: batch id}`` from a file source's metadata log.

    The log writes one file per batch, ``{id}``, but every
    ``compactInterval``-th batch (10 by default) is written as
    ``{id}.compact`` holding the entries of every batch up to ``id``,
    after which the plain files before it may be deleted. Reading only
    plain files therefore loses batches; both kinds are read here."""
    log_dir = os.path.join(checkpoint_dir, "sources", str(source))
    found: dict[str, int] = {}
    for name in os.listdir(log_dir):
        if not _LOG_NAME.match(name):
            continue
        with open(os.path.join(log_dir, name), encoding="utf-8") as f:
            lines = f.read().splitlines()
        for line in lines[1:]:  # first line is the log version ("v1")
            if line.strip():
                entry = json.loads(line)
                found[_local_path(entry["path"])] = int(entry["batchId"])
    return found


def commit_times(checkpoint_dir: str) -> dict[int, float]:
    """``{batch id: epoch seconds}`` at which each batch's commit file was
    written (its modification time)."""
    commit_dir = os.path.join(checkpoint_dir, "commits")
    return {
        int(name): os.stat(os.path.join(commit_dir, name)).st_mtime_ns / 1e9
        for name in os.listdir(commit_dir)
        if name.isdigit()
    }


def _local_path(uri: str) -> str:
    parsed = urllib.parse.urlparse(uri)
    return urllib.parse.unquote(parsed.path) if parsed.scheme in ("file", "") else uri


def freshness(
    due: dict[str, float], batch_of: dict[str, int], committed: dict[int, float]
) -> dict[str, float | None]:
    """Seconds from each input file's due time to the commit of the
    micro-batch that consumed it; ``None`` if it was never committed."""
    out: dict[str, float | None] = {}
    for path, t_due in due.items():
        batch = batch_of.get(path)
        out[path] = committed[batch] - t_due if batch in committed else None
    return out


# -- query results -----------------------------------------------------


def norm_value(v):
    if v is None:
        return "<null>"
    if isinstance(v, float):
        return "<nan>" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return tuple(norm_value(x) for x in v)
    if hasattr(v, "tolist"):  # numpy scalar or array
        return norm_value(v.tolist())
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return repr(v)


def _multiset(pdf) -> tuple[list[str], Counter]:
    cols = sorted(pdf.columns)
    return cols, Counter(
        tuple(norm_value(v) for v in row) for row in pdf[cols].itertuples(index=False, name=None)
    )


def compare_results(spark_pdf, oracle_pdf) -> tuple[int, str | None]:
    """``(wrong_rows, problem)``. A column or row-count mismatch is a
    problem (the query failed); otherwise rows present on one side only
    count as wrong rows."""
    scols, srows = _multiset(spark_pdf)
    ocols, orows = _multiset(oracle_pdf)
    if scols != ocols:
        return 0, f"columns {scols} != oracle {ocols}"
    if len(spark_pdf) != len(oracle_pdf):
        return 0, f"{len(spark_pdf)} rows != oracle {len(oracle_pdf)}"
    return sum((srows - orows).values()) + sum((orows - srows).values()), None
