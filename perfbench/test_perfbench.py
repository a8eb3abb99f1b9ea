"""The benchmark's own tests (no Spark needed):

    python3 -m pytest perfbench -q
"""
from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pytest

from perfbench import bench, gate, inputs
from perfbench.trace import Tracer


def _perfect_rows(golden: dict) -> list[tuple]:
    """The rows a correct extraction commits (unchecked channels filled
    with junk: the gate must ignore them)."""
    rows = []
    for url, g in golden.items():
        for page, text, table, combined, markdown, spans in g["rows"]:
            rows.append((url, page, text,
                         "x" if table is None else table,
                         "x" if combined is None else combined,
                         "x" if markdown is None else markdown,
                         [("0", "1", "zz")] if spans is None else [tuple(s) for s in spans],
                         "true" if g["ok"] else "false"))
    return rows


@pytest.fixture(scope="module")
def golden(tmp_path_factory) -> dict:
    d = inputs.build(str(tmp_path_factory.mktemp("cache")), "crawl_warc", 3, 60, 2)
    return inputs.load_golden(d)


@pytest.mark.parametrize("workload,n", [("crawl_warc", 40), ("pdf_scan", 16)])
def test_generator_is_deterministic_per_seed(workload, n):
    gen = inputs.GENERATORS[workload]
    a, b, c = gen(n, 5), gen(n, 5), gen(n, 6)
    assert a == b
    assert [d["payload"] for d in a] != [d["payload"] for d in c]


def test_cached_build_is_deterministic(tmp_path):
    dirs = [inputs.build(str(tmp_path / k), "pdf_scan", 9, 12, 2) for k in "ab"]
    for name in ("golden.jsonl", "stats.json"):
        blobs = {open(os.path.join(d, name)).read() for d in dirs}
        assert len(blobs) == 1
    tables = [pq.read_table(os.path.join(d, "pages")) for d in dirs]
    assert tables[0].equals(tables[1])
    # the cache is reused, not rebuilt
    assert inputs.build(str(tmp_path / "a"), "pdf_scan", 9, 12, 2) == dirs[0]


def test_gate_passes_a_correct_extraction(golden):
    assert gate.check_extraction(golden, _perfect_rows(golden)) == []
    failures = sum(not g["ok"] for g in golden.values())
    assert gate.check_failures(golden, failures) == []
    assert len(gate.check_failures(golden, failures + 1)) == 1


def test_gate_catches_one_byte_text_change(golden):
    rows = _perfect_rows(golden)
    i = next(i for i, r in enumerate(rows) if r[2])
    r = rows[i]
    rows[i] = (r[0], r[1], r[2][:-1] + chr(ord(r[2][-1]) ^ 1)) + r[3:]
    problems = gate.check_extraction(golden, rows)
    assert len(problems) == 1 and "text" in problems[0]


def test_gate_catches_dropped_url(golden):
    rows = _perfect_rows(golden)
    gone = rows[0][0]
    problems = gate.check_extraction(golden, [r for r in rows if r[0] != gone])
    assert problems == [f"missing {gone}"]


def test_gate_catches_duplicated_url(golden):
    rows = _perfect_rows(golden)
    problems = gate.check_extraction(golden, rows + [rows[5]])
    assert len(problems) == 1 and problems[0].startswith("duplicated")


def test_gate_catches_wrong_ok_and_stray_url(golden):
    rows = _perfect_rows(golden)
    r = rows[0]
    rows[0] = r[:7] + ("false" if r[7] == "true" else "true",)
    rows.append(("https://stray.example/x",) + r[1:])
    assert len(gate.check_extraction(golden, rows)) == 2


def test_neardup_gate():
    base = "one two three four five six seven eight nine ten eleven twelve"
    texts = {1: base, 2: base.replace("six", "sax"), 3: "a b c d e f g h",
             4: base + " thirteen"}
    pairs = [(1, 4)]
    groups = {1: 1, 4: 1}
    # copy 2 of 1 has Jaccard 7/13 < 0.8: not required
    assert gate.check_neardup(texts, pairs, [(2, 1)], groups, 0.5) == []
    # a planted copy at Jaccard >= 0.8 must be found
    assert len(gate.check_neardup(texts, pairs, [(4, 1)], {}, 0.5)) == 1
    assert len(gate.check_neardup(texts, [], [(4, 1)], {}, 0.5)) == 1
    # pairs below threshold and groups off the union-find are caught
    assert len(gate.check_neardup(texts, [(1, 3)], [], {1: 1, 3: 1}, 0.5)) == 1
    assert len(gate.check_neardup(texts, pairs, [], {1: 1, 4: 4}, 0.5)) == 1


def test_components_is_min_id_union_find():
    assert gate.components([(5, 3), (3, 9), (7, 8)]) == {
        3: 3, 5: 3, 9: 3, 7: 7, 8: 7}


def test_self_time_subtracts_children():
    t = Tracer("t")
    with t.span("outer") as outer:
        with t.span("inner") as inner:
            pass
    for s, (a, b) in ((outer, (0.0, 10.0)), (inner, (2.0, 5.0))):
        s["start"], s["end"] = a, b
    assert t.self_times() == {"outer": 7.0, "inner": 3.0}


def test_metric_names_match_benchmark_json():
    with open(os.path.join(bench.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} == set(bench.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == bench.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == bench.PER_LAYER
