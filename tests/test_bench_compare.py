"""bench.py: the regression-comparator baseline (the BENCH_FULL.json
committed at HEAD, read through ``git show``) and the stdout summary."""

from __future__ import annotations

import json
import subprocess
from types import SimpleNamespace

import bench


def _git_show(monkeypatch, returncode: int, stdout: str) -> None:
    monkeypatch.setattr(
        subprocess,
        "run",
        lambda *a, **k: SimpleNamespace(returncode=returncode, stdout=stdout),
    )


def test_committed_full_reads_queries_map(monkeypatch):
    _git_show(monkeypatch, 0, json.dumps(
        {"queries": {"q01": 1.5}, "micro": {"q01": 1.2, "_commit": "x"},
         "commit": "abc"}
    ))
    assert bench._committed_full() == (
        {"q01": 1.5}, {"q01": 1.2}, "BENCH_FULL.json@abc"
    )


def test_unparseable_committed_baseline_returns_none(monkeypatch):
    _git_show(monkeypatch, 0, "not json")
    assert bench._committed_full() is None


def test_no_committed_baseline_compares_nothing(monkeypatch):
    _git_show(monkeypatch, 128, "")
    assert bench.compare_to_previous_round({"q01": 9.0}) == {}


def test_ensure_confs_records_failures():
    """__spark_entry__._ensure_confs must record a refused conf loudly
    (round-1 VERDICT: the silent swallow masked the q61 investigation)."""
    import __spark_entry__ as E

    class LockedConf:
        def get(self, k, default=None):
            return None

        def set(self, k, v):
            raise RuntimeError("conf is locked")

    class FakeSession:
        conf = LockedConf()

    E.CONF_FAILURES.clear()
    E._ensure_confs(FakeSession())
    assert set(E.CONF_FAILURES) == set(E._REQUIRED_RUNTIME_CONFS)
    assert "locked" in next(iter(E.CONF_FAILURES.values()))
    E.CONF_FAILURES.clear()


def test_summary_line_carries_parseable_queries_map():
    """VERDICT r11 item 1: the driver's PERF comparison consumes a
    ``queries`` map parsed from the final stdout line, whose artifact
    keeps only the last 2000 chars — the line must fit whole AND carry
    per-query seconds under exact names, slowest first, omission
    declared."""
    from bench import build_summary_line

    times = {f"q{i:03d}_{'x' * 16}": 0.01 * i for i in range(1, 352)}
    line = build_summary_line(
        sum(times.values()), 0.1, len(times), "abc1234", {}, None, times
    )
    assert len(line) <= 1900
    parsed = json.loads(line)
    assert parsed["unit"] == "sec"
    assert parsed["n_queries"] == 351
    qs = parsed["queries"]
    assert qs and all(k in times for k in qs)
    # Slowest-first fill: every included query is at least as slow as
    # every omitted one.
    floor = min(qs.values())
    omitted = [v for k, v in times.items() if k not in qs]
    assert all(round(v, 2) <= floor for v in omitted)
    assert parsed["queries_omitted"] == len(times) - len(qs)


def test_summary_line_small_suite_includes_everything():
    from bench import build_summary_line

    times = {"q01_small": 1.0, "q02_other": 2.0}
    line = build_summary_line(3.0, 0.1, 2, "abc", {"q01_small": "1->1"},
                              {"q01_small": 1.0, "_commit": "abc"}, times)
    parsed = json.loads(line)
    assert parsed["queries"] == {"q01_small": 1.0, "q02_other": 2.0}
    assert parsed["queries_omitted"] == 0
    assert "micro" in parsed and "top_movers" in parsed
