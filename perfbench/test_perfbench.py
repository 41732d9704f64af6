"""The benchmark's own unit tests; no Spark session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import random
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from measure import Span, Tracer, median, percentile, tail  # noqa: E402


def _load(path):
    with open(path) as fh:
        return json.load(fh)


BENCH = _load(os.path.join(ROOT, "BENCHMARK.json"))
SPEC = _load(os.path.join(HERE, "layers.json"))


def test_benchmark_metric_names_match_the_layer_map():
    report, layers = SPEC["report_metrics"], SPEC["layer_metrics"]
    workloads = {w["name"] for w in BENCH["workloads"]}
    for m in BENCH["end_to_end"]:
        assert report[m["name"]]["unit"] == m["unit"]
        assert report[m["name"]]["better"] == m["better"]
        # a gated metric must be printed by every workload
        assert set(report[m["name"]]["workloads"]) == workloads
    assert [m["name"] for m in BENCH["per_layer"]] == list(layers)
    for m in BENCH["per_layer"]:
        assert layers[m["name"]]["unit"] == m["unit"]
        assert layers[m["name"]]["better"] == m["better"]
    for name, m in layers.items():
        for target, workload in m["moves"]:
            assert target in report, name
            assert workload in report[target]["workloads"], name
        assert set(m.get("flat_on", [])) <= workloads, name
        assert set(m.get("only_on", workloads)) <= workloads, name


def test_benchmark_json_shape():
    assert set(BENCH) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    assert BENCH["paths"] == ["perfbench"]
    assert 2 <= len(BENCH["workloads"]) <= 8
    assert 1 <= BENCH["run_seconds"] <= 60
    names = [m["name"] for m in BENCH["end_to_end"] + BENCH["per_layer"]]
    names += [w["name"] for w in BENCH["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n), n
    bounds = {m["name"]: m["bound"] for m in BENCH["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())


def test_median_and_tail_rule():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([]) is None
    xs = [float(i) for i in range(1, 101)]
    assert percentile(xs, 50) == 50.0
    assert percentile(xs, 90) == 90.0
    assert percentile(xs, 100) == 100.0
    # fewer than 20 samples: no percentile leaves 10 samples beyond it
    assert tail(xs[:19]) == {"value": None, "percentile": None, "samples": 19}
    assert tail(xs[:20]) == {"value": 10.0, "percentile": 50.0, "samples": 20}
    assert tail(xs[:40]) == {"value": 30.0, "percentile": 75.0, "samples": 40}
    assert tail(xs) == {"value": 90.0, "percentile": 90.0, "samples": 100}
    big = [float(i) for i in range(1, 10001)]
    assert tail(big)["percentile"] == 99.9
    for n in (20, 37, 100, 999, 10000):
        t = tail(big[:n])
        beyond = sum(1 for v in big[:n] if v > t["value"])
        assert beyond >= 10


def test_span_self_time_subtracts_the_union_of_children():
    t = Tracer("r", spans=[
        Span("op", 0.0, 10.0, None, "r", 0),
        Span("a", 1.0, 4.0, 0, "r", 1),
        Span("b", 3.0, 6.0, 0, "r", 2),  # overlaps a: union 1..6
        Span("c", 8.0, 12.0, 0, "r", 3),  # runs past its parent: clipped
        Span("a", 20.0, 21.0, None, "r", 4),  # same name: self times add
    ])
    st = t.self_times()
    assert st["op"] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st["a"] == pytest.approx(3.0 + 1.0)
    assert st["b"] == pytest.approx(3.0)
    assert st["c"] == pytest.approx(4.0)


def test_tracer_nesting_and_disabled_mode():
    t = Tracer("run-1")
    with t.span("outer") as o:
        with t.span("inner") as i:
            pass
    assert [(s.name, s.parent, s.run_id) for s in t.spans] == [
        ("outer", None, "run-1"), ("inner", 0, "run-1"),
    ]
    assert o.seconds >= i.seconds >= 0.0
    off = Tracer("run-2", enabled=False)
    with off.span("x") as s:
        pass
    assert off.spans == [] and s.seconds >= 0.0


def test_same_seed_gives_identical_corpus_bytes(tmp_path):
    from wallaby2caom2_spark import datagen

    def corpus(name, seed):
        path = tmp_path / name
        datagen.write_clips_parquet(str(path), 40, seed=seed, rows_per_file=16,
                                    profile="text_heavy")
        return {p.name: p.read_bytes() for p in sorted(path.iterdir())}

    assert corpus("a", 5) == corpus("b", 5)
    assert corpus("a", 5) != corpus("c", 6)


def test_input_seeds_are_distinct_and_never_reserved():
    from workloads import _RESERVED_SEEDS, input_seed

    seeds = {input_seed(w, s) for w in ("filter_decode", "upsert_lookup") for s in range(200)}
    assert len(seeds) == 400
    assert not seeds & _RESERVED_SEEDS
    assert input_seed("filter_decode", 3) == input_seed("filter_decode", 3)


def test_where_clauses_are_conjunctions_of_ranges_and_in_lists():
    from workloads import where_clause

    conjunct = re.compile(
        r"(\w+ (<|<=|>|>=) ('[^']*'|-?[\d.]+))|(\w+ IN \(('[^']*'|\d+)(, ('[^']*'|\d+))*\))"
    )
    rng = random.Random(1)
    clauses = [where_clause(rng) for _ in range(200)]
    for w in clauses:
        for part in w.split(" AND "):
            assert conjunct.fullmatch(part), (w, part)
    again = random.Random(1)
    assert clauses == [where_clause(again) for _ in range(200)]
