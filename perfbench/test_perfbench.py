"""Tests of the benchmark's own code (no Spark):

    python3 -m pytest perfbench/ -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402
import workloads  # noqa: E402


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(root)):
        with open(os.path.join(root, name), "rb") as f:
            out[name] = f.read()
    return out


# -- generator determinism ------------------------------------------------


def test_backlog_same_seed_gives_identical_files(tmp_path):
    a = inputs.write_backlog(str(tmp_path / "a"), 7, 3_000, 500)
    b = inputs.write_backlog(str(tmp_path / "b"), 7, 3_000, 500)
    assert [os.path.basename(p) for p in a] == [os.path.basename(p) for p in b]
    assert _tree_bytes(str(tmp_path / "a")) == _tree_bytes(str(tmp_path / "b"))
    inputs.write_backlog(str(tmp_path / "c"), 8, 3_000, 500)
    assert _tree_bytes(str(tmp_path / "a")) != _tree_bytes(str(tmp_path / "c"))


def test_stream_files_are_deterministic_and_continue_offsets():
    first, second = inputs.StreamFiles(5, 200), inputs.StreamFiles(5, 200)
    for k in range(3):
        assert first.table(k).equals(second.table(k))
    gen = inputs.StreamFiles(5, 200)
    t0, t1 = gen.table(0), gen.table(1)
    for p in range(len(inputs.PARTITION_WEIGHTS)):
        o0 = t0.filter(pc.equal(t0["partition"], p))["offset"].to_pylist()
        o1 = t1.filter(pc.equal(t1["partition"], p))["offset"].to_pylist()
        assert o0 + o1 == list(range(len(o0) + len(o1)))


def test_payload_mix():
    rng = np.random.default_rng(0)
    values = inputs.payloads(rng, 20_000, invalid_share=inputs.INVALID_SHARE).to_pylist()
    nulls = sum(v is None for v in values)
    invalid = sum(v is not None and v.startswith(b"\xff\xfe") for v in values)
    assert 0.015 < nulls / len(values) < 0.025
    assert 0.003 < invalid / len(values) < 0.007
    sizes = [len(v) for v in values if v is not None]
    assert 400 < sum(sizes) / len(sizes) < 650 and max(sizes) >= 20 * min(sizes)
    timed = inputs.payloads(np.random.default_rng(0), 20_000).to_pylist()
    for v in timed:
        if v is not None:
            v.decode("utf-8")  # the timed mix is all valid UTF-8


# -- output checks --------------------------------------------------------


def _records(rows):
    part, off, val = zip(*rows)
    return pa.table(
        [pa.array(part, pa.int32()), pa.array(off, pa.int64()), pa.array(val, pa.binary())],
        schema=inputs.KAFKA_SCHEMA,
    )


def test_expected_layout_batches_and_reference_decode():
    table = _records([(1, 12, b"c"), (0, 5, b"\xff\xfe"), (1, 10, None), (1, 11, "é".encode())])
    layout = checks.expected_layout(table, 2)
    assert {name: values.to_pylist() for name, values in layout.items()} == {
        "partition_0_batch_0.parquet": [""],
        "partition_1_batch_0.parquet": ["", "é"],
        "partition_1_batch_1.parquet": ["c"],
    }


def _write_b(path, values, nullable=False):
    schema = pa.schema([pa.field("b", pa.string(), nullable=nullable)])
    pq.write_table(pa.table([pa.array(values, pa.string())], schema=schema), path)


def test_check_sink_dir_finds_wrong_rows_and_layout_problems(tmp_path):
    expected = {
        "partition_0_batch_0.parquet": pa.array(["a", "b"]),
        "partition_0_batch_1.parquet": pa.array(["c"]),
    }
    _write_b(tmp_path / "partition_0_batch_0.parquet", ["a", "x"])
    _write_b(tmp_path / "partition_0_batch_1.parquet", ["c"])
    res = checks.check_sink_dir(str(tmp_path), expected)
    assert res.ok and res.wrong_rows == 1 and res.files == 2 and res.rows == 3

    _write_b(tmp_path / "partition_0_batch_1.parquet", ["c"], nullable=True)
    assert not checks.check_sink_dir(str(tmp_path), expected).ok
    os.remove(tmp_path / "partition_0_batch_1.parquet")
    _write_b(tmp_path / "partition_0_batch_2.parquet", ["c"])
    problems = checks.check_sink_dir(str(tmp_path), expected).problems
    assert any("missing" in p for p in problems) and any("unexpected" in p for p in problems)


def test_compare_results_counts_rows_on_one_side_only():
    import pandas as pd

    a = pd.DataFrame({"k": [1, 2, 2], "v": [0.5, 1.0, 1.0]})
    assert checks.compare_results(a, a[["v", "k"]]) == (0, None)
    b = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.0, 1.0]})
    assert checks.compare_results(a, b) == (2, None)
    assert checks.compare_results(a, b.head(2))[1] is not None


# -- freshness from a checkpoint ------------------------------------------


def _write_log(path, entries):
    with open(path, "w", encoding="utf-8") as f:
        f.write("v1\n" + "".join(json.dumps(e) + "\n" for e in entries))


def test_freshness_reads_compacted_source_log(tmp_path):
    """Batches 0-9 live only in ``9.compact`` (their plain files were
    deleted after compaction, as Spark does); 10 and 11 are plain."""
    ckpt = tmp_path / "ckpt"
    (ckpt / "sources" / "0").mkdir(parents=True)
    (ckpt / "commits").mkdir()
    in_dir = tmp_path / "in dir"
    entries = [
        {"path": f"file://{in_dir}/f{b:06d}.parquet".replace(" ", "%20"), "timestamp": 0, "batchId": b}
        for b in range(12)
    ]
    _write_log(ckpt / "sources" / "0" / "9.compact", entries[:10])
    _write_log(ckpt / "sources" / "0" / "10", entries[10:11])
    _write_log(ckpt / "sources" / "0" / "11", entries[11:])
    (ckpt / "sources" / "0" / ".11.crc").write_text("ignored")
    base = 1_700_000_000
    for b in range(11):  # batch 11 never committed
        (ckpt / "commits" / str(b)).write_text("v1\n{}")
        os.utime(ckpt / "commits" / str(b), ns=(0, (base + b) * 10**9 + 500_000_000))

    batch_of = checks.source_batches(str(ckpt))
    assert batch_of == {f"{in_dir}/f{b:06d}.parquet": b for b in range(12)}
    due = {f"{in_dir}/f{b:06d}.parquet": base + b + 0.25 for b in range(12)}
    fresh = checks.freshness(due, batch_of, checks.commit_times(str(ckpt)))
    for b in range(11):
        assert fresh[f"{in_dir}/f{b:06d}.parquet"] == pytest.approx(0.25, abs=1e-6)
    assert fresh[f"{in_dir}/f{11:06d}.parquet"] is None


# -- BENCHMARK.json -------------------------------------------------------

_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
_UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _benchmark():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def test_benchmark_json_names_and_limits():
    bench = _benchmark()
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    e2e, layer = bench["end_to_end"], bench["per_layer"]
    assert 1 <= len(e2e) <= 16 and 1 <= len(layer) <= 128
    names = [m["name"] for m in e2e + layer] + [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    assert all(_NAME.match(n) for n in names)
    assert all(_UNIT.match(m["unit"]) for m in e2e + layer)
    assert all(set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25 for m in e2e)
    assert all(set(m) == {"name", "unit", "better"} for m in layer)
    setup = next(m for m in e2e if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in e2e)
    listed = [w["name"] for w in bench["workloads"]]
    assert 2 <= len(listed) <= 8 and set(listed) <= set(workloads.WORKLOADS)
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in bench["workloads"])


def test_every_query_has_its_per_layer_metrics():
    layer = {m["name"] for m in _benchmark()["per_layer"]}
    for q in workloads.ONEPASS + workloads.ITERATIVE:
        for suffix in ("warm_s", "build_s", "jobs", "tasks", "shuffle_mb"):
            assert f"{q}.{suffix}" in layer
    for q in workloads.ITERATIVE:
        assert f"{q}.sched_share" in layer
