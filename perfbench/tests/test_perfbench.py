"""Tests for the benchmark's own code; no Spark session is started.

Run from the repository root: ``python -m pytest perfbench/tests -q``
"""

from __future__ import annotations

import datetime
import json
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(HERE))

import inputs  # noqa: E402
import run  # noqa: E402
from spans import Span, Tracer, is_noisy, self_times  # noqa: E402
from workloads import WORKLOADS, fingerprint  # noqa: E402

SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def test_benchmark_json_names_match_the_emitted_metrics():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in SPEC["workloads"]} <= set(WORKLOADS)
    assert SPEC["command"] == ["python3", "perfbench/run.py"]


def _pass(traced: bool, wall: float) -> run.PassResult:
    p = run.PassResult(traced=traced, wall_s=wall, latencies=[wall / 2, wall / 2])
    if traced:
        p.layers.update({"spark.jobs": 3, "task_med_ms": 10.0, "task_max_ms": 25.0})
    return p


def test_result_line_schema():
    passes = [_pass(False, 2.0), _pass(True, 2.5), _pass(True, 2.7), _pass(False, 2.2)]
    layers = run._layer_metrics(passes)
    assert list(layers) == list(run.PER_LAYER)
    assert layers["trace.overhead_s"] == pytest.approx(2.6 - 2.1)
    assert layers["spark.task_skew"] == pytest.approx(2.5)
    assert layers["spark.jobs"] == 3
    line = run.result_line([], 8, 0, layers, run.PER_LAYER)
    assert list(line) == ["correct", "attempted", "failed", "metrics"]
    assert line["correct"] is True
    assert set(line["metrics"]) == set(run.PER_LAYER)
    for name, m in line["metrics"].items():
        assert m == {"value": layers[name], "unit": run.PER_LAYER[name]}
    assert run.result_line(["q: raised"], 8, 1, layers, run.PER_LAYER)["correct"] is False
    json.dumps(line)


def test_percentile_interpolates():
    assert run._pct([4.0, 1.0, 3.0, 2.0], 0.5) == pytest.approx(2.5)
    assert run._pct([1.0, 2.0, 3.0, 4.0, 5.0], 0.9) == pytest.approx(4.6)
    assert run._pct([7.0], 0.9) == 7.0


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_same_seed_gives_byte_identical_inputs(tmp_path, name):
    w = WORKLOADS[name]
    for seed, sub in ((5, "a"), (5, "b"), (6, "c")):
        inputs.write_tables(w.tables(seed), tmp_path / sub)
    files = sorted(p.name for p in (tmp_path / "a").iterdir())
    assert files == sorted(p.name for p in (tmp_path / "b").iterdir())
    same = [(tmp_path / "a" / f).read_bytes() == (tmp_path / "b" / f).read_bytes() for f in files]
    other = [(tmp_path / "a" / f).read_bytes() == (tmp_path / "c" / f).read_bytes() for f in files]
    assert all(same)
    assert not all(other)


def test_profiles_plant_markers_by_sex():
    t = inputs.profiles_table(3, n_rows=400).to_pydict()
    text = [" ".join(t[c][i] for c in inputs.ESSAYS) for i in range(400)]
    male = [s for s, sex in zip(text, t["sex"]) if sex == "m"]
    female = [s for s, sex in zip(text, t["sex"]) if sex == "f"]
    rate = lambda docs, w: sum(f" {w} " in f" {d} " for d in docs) / len(docs)  # noqa: E731
    assert 0.35 < rate(male, "beard") < 0.65 and rate(female, "beard") < 0.3
    assert 0.35 < rate(female, "yoga") < 0.65 and rate(male, "yoga") < 0.3


def test_self_time_subtracts_children_once():
    spans = [
        Span("call", 0.0, 10.0),
        Span("build", 1.0, 4.0, parent=0),
        Span("exec", 3.0, 6.0, parent=0),    # overlaps build: union is 1..6
        Span("inner", 4.5, 5.5, parent=2),
        Span("late", 9.0, 12.0, parent=0),   # clipped to the parent's end
    ]
    assert self_times(spans) == pytest.approx([10 - 5 - 1, 3.0, 2.0, 1.0, 3.0])


def test_tracer_records_nesting_and_probes():
    ticks = iter(range(100))
    tracer = Tracer(True, probe=lambda: next(ticks))
    with tracer.span("call", call="q"):
        with tracer.span("registry.build"):
            pass
        with tracer.span("spark.exec"):
            pass
    assert [s.name for s in tracer.spans] == ["call", "registry.build", "spark.exec"]
    assert [s.parent for s in tracer.spans] == [None, 0, 0]
    assert tracer.spans[0].attrs == {"call": "q", "at_start": 0, "at_end": 5}
    assert all(s.end >= s.start for s in tracer.spans)
    off = Tracer(False, probe=lambda: next(ticks))
    with off.span("call"):
        pass
    assert off.spans == []


def test_fingerprint_is_order_insensitive_and_folds_types():
    a = fingerprint(["b", "a"], [(1, 2.0), (3, None)])
    b = fingerprint(["a", "b"], [(None, 3), (2, 1)])
    assert a == b
    day = datetime.datetime(2024, 1, 1)
    assert fingerprint(["d"], [(day,)]) == fingerprint(["d"], [(day.date(),)])
    assert fingerprint(["x"], [(0.1234564,)]) == fingerprint(["x"], [(0.123456,)])
    assert fingerprint(["x"], [(1,)]) != fingerprint(["x"], [(2,)])


def _probe(sha256_ms: float, steal: int, total: int) -> dict:
    return {"load1": 4.0, "sha256_ms": sha256_ms, "steal_ticks": steal, "total_ticks": total}


def test_noise_rule_reads_steal_share_and_probe_slowdown_not_load():
    start = _probe(10.0, 100, 10_000)
    assert not is_noisy(start, _probe(12.9, 150, 11_000))   # 5% steal, 1.29x
    assert is_noisy(start, _probe(10.0, 151, 11_000))       # 5.1% steal
    assert is_noisy(start, _probe(13.1, 100, 11_000))       # probe 1.31x slower
    assert not is_noisy(start, _probe(10.0, 100, 10_000))   # no ticks between
