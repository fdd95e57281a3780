"""The bench summary line must stay parseable inside the driver's
2000-char stdout tail no matter how many queries are benched (round 3
shipped an unparseable artifact). Pure-python: no Spark session."""

from __future__ import annotations

import io
import json
import contextlib

import bench


def _emit_line(timings, names, **kw):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        bench._emit(timings, names, sf=0.1, **kw)
    return buf.getvalue().strip().splitlines()[-1]


def test_emit_line_fits_driver_tail_with_many_queries(tmp_path, monkeypatch):
    # 200 long-named queries -> far beyond the budget; the line must still
    # parse, stay under 1800 chars, and always carry the full core-20.
    names = bench.HEADLINE[: bench.CORE] + [
        f"extremely_long_query_name_number_{i:03d}_with_suffix" for i in range(200)
    ]
    timings = {n: round(0.001 * (i + 1), 3) for i, n in enumerate(names)}
    monkeypatch.setattr(
        bench, "__file__", str(tmp_path / "bench.py"), raising=False
    )
    line = _emit_line(timings, names)
    assert len(line) <= bench.LINE_BUDGET
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_queries_total_wall"
    assert set(bench.HEADLINE[: bench.CORE]) <= set(parsed["queries"])
    assert parsed["queries_benched"] == len(timings)
    # total covers ALL benched queries, not just the reported subset
    assert parsed["value"] == round(sum(timings.values()), 3)
    # the complete map landed on disk
    full = json.loads((tmp_path / "BENCH_FULL.json").read_text())
    assert set(full["queries"]) == set(timings)
    # per-query {best, spread} ships so judges can separate timing
    # noise from plan regressions without re-running
    assert set(full["queries_detail"]) == set(timings)
    assert all(
        set(d) == {"best", "spread"} and d["spread"] >= 1.0
        for d in full["queries_detail"].values()
    )


def test_emit_records_best_and_spread(tmp_path, monkeypatch):
    monkeypatch.setattr(
        bench, "__file__", str(tmp_path / "bench.py"), raising=False
    )
    names = bench.HEADLINE[: bench.CORE]
    timings = {n: 0.5 for n in names}
    details = {n: {"best": 0.5, "spread": 2.4} for n in names}
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        bench._emit(timings, names, sf=0.1, details=details)
    full = json.loads((tmp_path / "BENCH_FULL.json").read_text())
    assert full["queries_detail"][names[0]] == {"best": 0.5, "spread": 2.4}
    # the summary line stays unchanged (budgeted, no detail map)
    line = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert "queries_detail" not in line


def test_emit_reports_slowest_of_the_rest_first(tmp_path, monkeypatch):
    names = bench.HEADLINE[: bench.CORE] + ["fast_extra", "slow_extra"]
    timings = {n: 0.01 for n in bench.HEADLINE[: bench.CORE]}
    timings["fast_extra"] = 0.001
    timings["slow_extra"] = 9.9
    monkeypatch.setattr(
        bench, "__file__", str(tmp_path / "bench.py"), raising=False
    )
    parsed = json.loads(_emit_line(timings, names))
    # plenty of room -> both fit; but ordering guarantees the slow one
    # would survive truncation
    assert "slow_extra" in parsed["queries"]


def test_warm_up_failure_is_recorded(tmp_path, monkeypatch, capsys):
    class _Rows:
        def count(self):
            return 1

    def broken(spark, sf_dir):
        raise ValueError("bad input")

    queries = {"ok_query": lambda spark, sf_dir: _Rows(), "broken_query": broken}
    failures = bench._warm_up(None, "sf", queries, list(queries))
    assert failures == {"broken_query": "ValueError"}
    err = capsys.readouterr().err
    assert "warm-up of broken_query failed" in err and "ValueError: bad input" in err

    monkeypatch.setattr(
        bench, "__file__", str(tmp_path / "bench.py"), raising=False
    )
    names = bench.HEADLINE[: bench.CORE]
    line = _emit_line({n: 0.5 for n in names}, names, failures=failures)
    assert len(line) <= bench.LINE_BUDGET
    assert json.loads(line)["warmup_failed"] == 1
    full = json.loads((tmp_path / "BENCH_FULL.json").read_text())
    assert full["warmup_failures"] == {"broken_query": "ValueError"}
