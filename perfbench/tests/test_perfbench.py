"""Tests of the benchmark's own code; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
from types import SimpleNamespace

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import oracle  # noqa: E402
from spans import covered, quantile, self_times, tail_percentile  # noqa: E402
from workloads import Lookup  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "shapes.json")) as f:
    SHAPES = json.load(f)

WORKLOADS = ["ingest_partitioned", "partition_lookup", "corpus_dedup"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_generator_is_deterministic_per_seed(tmp_path, workload):
    shape = SHAPES[workload]
    a = gen.stage(workload, 5, shape, str(tmp_path / "a"))
    b = gen.stage(workload, 5, shape, str(tmp_path / "b"))
    c = gen.stage(workload, 6, shape, str(tmp_path / "c"))
    assert a["hash"] == b["hash"]
    assert a["hash"] != c["hash"]
    assert a["rows"] == b["rows"]


def test_stream_files_replay_in_staged_order(tmp_path):
    staged = gen.stage("ingest_partitioned", 1, SHAPES["ingest_partitioned"],
                       str(tmp_path / "s"))
    files = [staged["stream"]["files"][k] for k in sorted(staged["stream"]["files"])]
    mtimes = [os.path.getmtime(p) for p in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)


def test_lookup_cycles_hold_the_same_mix(tmp_path):
    shape = SHAPES["partition_lookup"]
    staged = gen.stage("partition_lookup", 3, shape, str(tmp_path / "l"))
    per = shape["lookups_per_merge"]
    chunks = [sorted(q["kind"] for q in staged["lookups"][i:i + per])
              for i in range(0, len(staged["lookups"]) - per + 1, per)]
    assert len({tuple(c) for c in chunks}) == 1


@pytest.mark.parametrize("n, q", [(0, None), (10, None), (19, None),
                                  (20, 0.5), (50, 0.8), (100, 0.9),
                                  (1000, 0.9)])
def test_tail_percentile_keeps_ten_samples_beyond(n, q):
    got = tail_percentile(n)
    assert got == pytest.approx(q) if q is not None else got is None
    if got is not None:
        assert n * (1 - got) >= 10 - 1e-9


def test_quantile_interpolates():
    assert quantile([4, 1, 3, 2], 0.5) == 2.5
    assert quantile([1, 2, 3, 4, 5], 0.9) == pytest.approx(4.6)
    assert quantile([7], 0.9) == 7


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered([], 0, 10) == 0


def test_self_time_is_span_minus_child_cover():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 2.0},
        {"id": 2, "parent": 0, "start": 2.0, "end": 5.0},
        {"id": 3, "parent": 0, "start": 7.0, "end": 8.0},
        {"id": 4, "parent": 2, "start": 2.5, "end": 3.5},
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 5)      # children cover [1,5] + [7,8]
    assert st[1] == pytest.approx(1)
    assert st[2] == pytest.approx(3 - 1)
    assert st[4] == pytest.approx(1)
    assert sum(st.values()) == pytest.approx(10)   # self times tile the root


def test_brute_force_pairs_match_hand_computed_jaccard():
    docs = {1: oracle.shingle_set("a b c d e"),
            2: oracle.shingle_set("a b c d f"),
            3: oracle.shingle_set("x y z")}
    # {abc, bcd, cde} vs {abc, bcd, cdf}: 2 shared of 4
    assert oracle.brute_force_pairs(docs, 0.4) == {(1, 2, 0.5)}
    assert oracle.components([(5, 2), (2, 9), (4, 3)]) == {
        2: 2, 5: 2, 9: 2, 3: 3, 4: 3}


def _python_answer(rows: list[dict], q: dict) -> list[tuple]:
    """A lookup answered without DuckDB, as the engine would return it."""
    if q["kind"] == "full":
        out = {}
        for r in rows:
            n, s = out.get(r["region"], (0, 0.0))
            out[r["region"]] = (n + 1, s + r["amount"])
        return [(k, *out[k]) for k in sorted(out)]
    if q["kind"] == "point":
        hit = [r for r in rows if r["region"] == q["region"] and r["day"] == q["day"]]
    else:
        hit = [r for r in rows if r["region"] == q["region"]
               and q["lo"] <= r["day"] <= q["hi"]]
    return [(len(hit), sum(r["amount"] for r in hit) if hit else None)]


@pytest.fixture()
def lookup_run(tmp_path):
    """A Lookup whose 'engine' outputs were produced correctly by hand:
    answers from plain Python, the table written by pyarrow."""
    shape = SHAPES["partition_lookup"]
    staged = gen.stage("partition_lookup", 9, dict(shape, base_rows=400),
                       str(tmp_path / "in"))
    base = pq.read_table(staged["files"]["base"])
    table = str(tmp_path / "table")
    pq.write_to_dataset(base, table, partition_cols=["region", "day"])
    lk = Lookup()
    lk.table = table
    rows = base.to_pylist()
    for idx, q in enumerate(staged["lookups"][:12]):
        lk.answers.append((idx, 0, _python_answer(rows, q)))
    return lk, SimpleNamespace(staged=staged, shape=shape)


def test_gate_accepts_correct_lookup_outputs(lookup_run):
    lk, ctx = lookup_run
    gate = oracle.Gate()
    lk.verify(ctx, gate)
    assert gate.failed == 0, [c for c in gate.checks if not c["ok"]]
    assert lk.recall(ctx) == 1.0


def test_gate_rejects_a_corrupted_answer(lookup_run):
    lk, ctx = lookup_run
    idx, merged, ans = lk.answers[3]
    first = list(ans[0])
    first[-1] = (first[-1] or 0) + 1.0           # one sum off by one
    lk.answers[3] = (idx, merged, [tuple(first)] + ans[1:])
    gate = oracle.Gate()
    lk.verify(ctx, gate)
    assert [c["check"] for c in gate.checks if not c["ok"]] == [
        f"lookup.3.{ctx.staged['lookups'][3]['kind']}"]


def test_gate_rejects_a_corrupted_table(lookup_run):
    lk, ctx = lookup_run
    victim = sorted(oracle._files(lk.table, ".parquet"))[0]
    os.remove(victim)                             # one partition lost
    gate = oracle.Gate()
    lk.verify(ctx, gate)
    assert not gate.checks[-1]["ok"]
    assert gate.checks[-1]["check"] == "lookup.final_state_after_merges"
    assert lk.recall(ctx) < 1.0


def test_avro_reader_decodes_a_hand_built_container(tmp_path):
    import zlib

    def zz(n):
        n = (n << 1) ^ (n >> 63)
        out = bytearray()
        while n & ~0x7F:
            out.append((n & 0x7F) | 0x80)
            n >>= 7
        out.append(n)
        return bytes(out)

    def s(x):
        b = x.encode()
        return zz(len(b)) + b

    schema = json.dumps({"type": "record", "name": "r", "fields": [
        {"name": "id", "type": "long"},
        {"name": "note", "type": ["null", "string"]}]})
    sync = bytes(range(16))
    body = zz(7) + zz(1) + s("hi") + zz(-3) + zz(0)
    data = zlib.compress(body)[2:-4]
    blob = (b"Obj\x01" + zz(2) + s("avro.schema") + s(schema)
            + s("avro.codec") + s("deflate") + zz(0) + sync
            + zz(2) + zz(len(data)) + data + sync)
    p = tmp_path / "x.avro"
    p.write_bytes(blob)
    names, rows = oracle.read_avro_file(str(p))
    assert names == ["id", "note"]
    assert rows == [(7, "hi"), (-3, None)]


def test_benchmark_json_follows_its_format():
    import re
    with open(os.path.join(os.path.dirname(os.path.dirname(HERE)),
                           "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert 1 <= bench["run_seconds"] <= 60
    name = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
    unit = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
    seen = set()
    for w in bench["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
        assert w["name"] in SHAPES
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert name.fullmatch(m["name"]) and unit.fullmatch(m["unit"])
        assert m["better"] in ("lower", "higher")
        assert m["name"] not in seen
        seen.add(m["name"])
    for m in bench["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in bench["end_to_end"])
