"""Seeded input generators of Kafka-shaped records.

Pure numpy/pyarrow; importing this module starts no Spark. The same seed
always yields byte-identical files (pyarrow writes no timestamps into
Parquet footers), which ``test_perfbench.py`` pins.

Kafka-shaped records are ``(partition int32, offset int64, value binary)``
with the payload mix the reference consumer must handle: ~0.5 KB payloads
with spread-out lengths, ~2% null, some multi-byte UTF-8, over 8
partitions of uneven size (the largest holds about a third).

Invalid UTF-8 (``INVALID_SHARE``) is generated only for the defect probe:
one such payload makes ``write_partition_batches`` raise (Arrow refuses
the string column when handing the group to pandas), so a timed drain
holding any would fail as a whole. See ``workloads.invalid_utf8_probe``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PARTITION_WEIGHTS = np.array([0.34, 0.19, 0.14, 0.10, 0.08, 0.065, 0.05, 0.035])
NULL_SHARE = 0.02
INVALID_SHARE = 0.005
MULTIBYTE_SHARE = 0.10
KAFKA_SCHEMA = pa.schema(
    [
        pa.field("partition", pa.int32(), nullable=False),
        pa.field("offset", pa.int64(), nullable=False),
        pa.field("value", pa.binary()),
    ]
)
# Spark DDL for reading the files as a stream (file streams need a schema).
KAFKA_DDL = "partition int, offset long, value binary"

_ALPHABET = np.frombuffer(b'abcdefghijklmnopqrstuvwxyz      {}":,0123456789', dtype=np.uint8)


def payloads(rng: np.random.Generator, n: int, invalid_share: float = 0.0) -> pa.BinaryArray:
    """``n`` payloads: lognormal lengths (median ~420 B, mean ~510 B,
    clipped to 16..4096), nulls, valid two-byte UTF-8 ('é') and, with
    ``invalid_share``, invalid UTF-8 (leading 0xFF 0xFE) at seeded
    positions."""
    lengths = np.clip(rng.lognormal(np.log(420.0), 0.6, n), 16, 4096).astype(np.int64)
    kind = rng.random(n)
    null = kind < NULL_SHARE
    invalid = (kind >= NULL_SHARE) & (kind < NULL_SHARE + invalid_share)
    multibyte = kind >= 1.0 - MULTIBYTE_SHARE
    lengths[null] = 0
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    data = _ALPHABET[rng.integers(0, len(_ALPHABET), int(offsets[-1]), dtype=np.uint8)]
    starts = offsets[:-1]
    data[starts[invalid]] = 0xFF
    data[starts[invalid] + 1] = 0xFE
    data[starts[multibyte] + 4] = 0xC3
    data[starts[multibyte] + 5] = 0xA9
    validity = pa.array(~null).buffers()[1]
    return pa.Array.from_buffers(
        pa.large_binary(), n, [validity, pa.py_buffer(offsets), pa.py_buffer(data)]
    ).cast(pa.binary())


def partitions(rng: np.random.Generator, n: int) -> np.ndarray:
    return rng.choice(len(PARTITION_WEIGHTS), size=n, p=PARTITION_WEIGHTS).astype(np.int32)


def write_backlog(out_dir: str, seed: int, n_records: int, records_per_file: int) -> list[str]:
    """A drained-topic backlog: each file holds consecutive offsets of one
    partition (a log segment). Returns the file paths in write order."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    counts = np.bincount(partitions(rng, n_records), minlength=len(PARTITION_WEIGHTS))
    bases = rng.integers(0, 1_000_000, len(counts))
    values = payloads(rng, n_records)
    paths, pos = [], 0
    for p, (count, base) in enumerate(zip(counts, bases)):
        for start in range(0, int(count), records_per_file):
            m = min(records_per_file, int(count) - start)
            table = pa.table(
                [
                    pa.array(np.full(m, p, dtype=np.int32)),
                    pa.array(base + start + np.arange(m, dtype=np.int64)),
                    values.slice(pos, m),
                ],
                schema=KAFKA_SCHEMA,
            )
            path = os.path.join(out_dir, f"p{p}-{base + start:012d}.parquet")
            pq.write_table(table, path)
            paths.append(path)
            pos += m
    return paths


class StreamFiles:
    """The open-loop generator's file contents: file ``k`` holds
    ``records_per_file`` records spread over the 8 partitions, with
    offsets continuing each partition's sequence across files."""

    def __init__(self, seed: int, records_per_file: int) -> None:
        self.seed = seed
        self.records_per_file = records_per_file
        self.next_offset = np.zeros(len(PARTITION_WEIGHTS), dtype=np.int64)

    def table(self, k: int) -> pa.Table:
        rng = np.random.default_rng([self.seed, 2, k])
        part = np.sort(partitions(rng, self.records_per_file))
        counts = np.bincount(part, minlength=len(PARTITION_WEIGHTS))
        offset = np.concatenate(
            [self.next_offset[p] + np.arange(c, dtype=np.int64) for p, c in enumerate(counts)]
        )
        self.next_offset += counts
        return pa.table(
            [pa.array(part), pa.array(offset), payloads(rng, self.records_per_file)],
            schema=KAFKA_SCHEMA,
        )
