"""The benchmark's own tests: seeded generators, the latency bookkeeping,
the result hash, and a tiny-scale (``--smoke``) end-to-end run of every
workload through ``run.py``.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.trace import Tracer, percentile  # noqa: E402


def test_stream_inputs_are_seeded_and_shares_match_spec():
    spec = gen.StreamSpec(store_docs=300, events=4000)
    a = gen.stream_inputs(11, spec)
    b = gen.stream_inputs(11, spec)
    c = gen.stream_inputs(12, spec)
    assert a.payloads == b.payloads and a.ids == b.ids
    assert a.payloads != c.payloads
    for kind, share in spec.shares.items():
        assert abs(a.measured[f"share_{kind}"] - share) < 0.03
    # Zipf skew: a few hot keys take a large share of keyed events
    assert a.measured["share_hot_1pct_keys"] > 0.2


def test_expected_tag_state_separates_known_and_unknown_ids():
    inputs = gen.stream_inputs(3, gen.StreamSpec(store_docs=200, events=500))
    tagged, dead = gen.expected_tag_state(inputs)
    store_ids = {r[0] for r in inputs.store_rows}
    assert tagged <= store_ids
    assert dead and not dead & store_ids


def test_corpus_plants_duplicates_and_low_quality():
    spec = gen.CorpusSpec(docs=2000)
    a = gen.corpus_inputs(5, spec)
    assert a.rows == gen.corpus_inputs(5, spec).rows
    text = dict(a.rows)
    assert all(text[k] == text[v] for k, v in a.exact_of.items())
    assert all(text[k] != text[v] for k, v in a.near_of.items())
    for name, share in (
        ("share_exact_dup", spec.exact_dup_share),
        ("share_near_dup", spec.near_dup_share),
        ("share_low_quality", spec.low_quality_share),
    ):
        assert abs(a.measured[name] - share) < 0.03


def test_tables_are_seeded():
    a = gen.table_columns(1, 0.001)
    b = gen.table_columns(1, 0.001)
    assert np.array_equal(a["lineitem"]["l_extendedprice"], b["lineitem"]["l_extendedprice"])
    assert len(a["lineitem"]["l_orderkey"]) == 6000


def test_event_batches_follow_batch_end_offsets():
    from perfbench.tagstream import _event_batches, _seq_numbers

    shards = np.asarray([0, 1, 0, 1, 0, 1])
    seqs = _seq_numbers(shards, 2)
    assert seqs.tolist() == [0, 0, 1, 1, 2, 2]
    due = np.asarray([0.0, 0.0, 1.0, 1.0, 2.0, 2.0])
    progress = [
        {"batchId": 0, "sources": [{"endOffset": json.dumps({"shardId-000000000000": 2, "shardId-000000000001": 1})}]},
        {"batchId": 1, "sources": [{"endOffset": json.dumps({"shardId-000000000000": 3, "shardId-000000000001": 3})}]},
    ]
    batch, lat = _event_batches(progress, {0: 5.0, 1: 9.0}, due, shards, seqs, 6)
    # shard 0: seqs 0,1 in batch 0 (t=5), seq 2 in batch 1 (t=9)
    assert batch.tolist() == [0, 0, 0, 1, 1, 1]
    assert lat.tolist() == [5.0, 5.0, 4.0, 8.0, 7.0, 7.0]
    # a batch that has not returned places nothing
    batch, lat = _event_batches(progress, {0: 5.0}, due, shards, seqs, 6)
    assert batch.tolist() == [0, 0, 0, -1, -1, -1] and np.isnan(lat[3:]).all()


def test_measured_batches_are_the_first_whole_batches_from_the_start():
    from perfbench.tagstream import measured_batches

    def p(b, ts, rows=10):
        return {"batchId": b, "timestamp": ts, "numInputRows": rows, "sources": [{}]}

    progress = [
        p(3, "1970-01-01T00:00:13.000Z"),
        p(0, "1970-01-01T00:00:01.000Z"),
        p(1, "1970-01-01T00:00:05.000Z"),
        p(2, "1970-01-01T00:00:09.500Z", rows=0),
        p(4, "1970-01-01T00:00:17.000Z"),
    ]
    assert [b["batchId"] for b in measured_batches(progress, 4.0, 2)] == [1, 3]
    assert [b["batchId"] for b in measured_batches(progress, 14.0, 2)] == [4]


def test_rows_written_counts_only_new_or_changed_store_files(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from perfbench.tagstream import _store_files, rows_written

    def part(name, n):
        pq.write_table(pa.table({"_id": [f"k{i}" for i in range(n)]}), tmp_path / name)

    part("part-0.parquet", 5)
    part("part-1.parquet", 7)
    before = _store_files(str(tmp_path))
    assert rows_written(str(tmp_path), before) == 0
    # a MERGE-style write: one file replaced, one added, one untouched
    (tmp_path / "part-1.parquet").unlink()
    part("part-1.parquet", 2)
    part("part-2.parquet", 3)
    assert rows_written(str(tmp_path), before) == 5


def test_percentile_and_tracer_spans():
    assert percentile([1, 2, 3, 4], 50) == 2.5
    assert percentile([], 99) == 0.0
    tr = Tracer(True)
    with tr.span("outer", "t1"):
        with tr.span("inner"):
            pass
    inner, outer = tr.spans
    assert inner["parent"] == outer["id"] and inner["trace"] == "t1"
    off = Tracer(False)
    with off.span("x"):
        off.value("v", 1)
    assert not off.spans and not off.values


def test_result_hash_ignores_row_order():
    import pandas as pd

    from perfbench.batchmix import result_hash

    a = pd.DataFrame({"k": [1, 2], "v": [0.5, None]})
    b = pd.DataFrame({"v": [None, 0.5], "k": [2, 1]})
    assert result_hash(a) == result_hash(b)
    assert result_hash(a) != result_hash(pd.DataFrame({"k": [1, 2], "v": [0.5, 0.25]}))


def _run(args, cwd=ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=400,
    )


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    r = _run(["--workload", "tag_paced", "--seed", "1", "--seconds", "1", "--trace", "0"], tmp_path)
    assert r.returncode != 0
    assert not r.stdout.strip()
    assert "arc_kinesis_tagging_spark" in r.stderr


with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_prints_every_metric(workload, trace):
    r = _run(["--workload", workload, "--seed", "3", "--seconds", "2", "--trace", str(trace), "--smoke"])
    assert r.returncode == 0, r.stderr
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert {m["name"] for m in want} == set(out["metrics"])
    for m in want:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
