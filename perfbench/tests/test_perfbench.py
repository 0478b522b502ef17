"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

import json
import os

import pytest

import corpus as C
import jobs as J
import layers
import run as R
import stats
from spans import Span, Tracer, self_times


def _tree(root):
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


@pytest.mark.parametrize("workload", C.WORKLOADS)
def test_same_seed_gives_identical_corpus(tmp_path, workload):
    a = C.generate(workload, 7, str(tmp_path / "a"))
    b = C.generate(workload, 7, str(tmp_path / "b"))
    assert _tree(tmp_path / "a") == _tree(tmp_path / "b")
    with open(tmp_path / "a" / "expected.json", encoding="utf-8") as fh:
        assert json.load(fh) == C.describe(a)
    for da, db in zip(a.datasets, b.datasets):
        assert da.rows == db.rows and da.records == db.records


def test_other_seed_gives_other_corpus(tmp_path):
    a = C.generate("flat_scan", 7, str(tmp_path / "a"))
    b = C.generate("flat_scan", 8, str(tmp_path / "b"))
    assert _tree(tmp_path / "a") != _tree(tmp_path / "b")
    assert a.datasets[0].expected != b.datasets[0].expected


def test_nested_corpus_plants_what_it_reports(tmp_path):
    ds = C.generate("nested_bz2_scan", 3, str(tmp_path)).dataset("nested")
    e = ds.expected
    assert e["malformed"] > 0 and e["xsd_valid"] < e["count"] - e["malformed"]
    assert e["count"] == len(ds.records) == len(ds.rows) + e["malformed"]
    assert all(f.endswith(".bz2") for f in ds.files)


def _span(sid, name, start, end, parent=None):
    return Span(sid, name, start, end, parent, "r")


def test_self_time_subtracts_covered_part_of_children():
    spans = [
        _span(0, "root", 0.0, 10.0),
        _span(1, "a", 1.0, 3.0, 0),
        _span(2, "b", 2.0, 5.0, 0),  # overlaps a: covered once
        _span(3, "c", 8.0, 12.0, 0),  # ends after its parent: clipped
        _span(4, "leaf", 2.5, 2.75, 2),
        _span(5, "a", 6.0, 7.0, 0),  # second span of the same name
    ]
    got = self_times(spans)
    # root covers [1,5] + [6,7] + [8,10] = 7 of its 10 seconds
    assert got["root"] == pytest.approx(3.0)
    assert got["a"] == pytest.approx(2.0 + 1.0)
    assert got["b"] == pytest.approx(3.0 - 0.25)
    assert got["c"] == pytest.approx(4.0)
    assert got["leaf"] == pytest.approx(0.25)


def test_tracer_records_parents_and_disabled_tracer_records_nothing():
    tr = Tracer("run-1")
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    assert [(s.name, s.parent, s.run_id) for s in tr.spans] == [
        ("outer", None, "run-1"), ("inner", 0, "run-1"),
    ]
    off = Tracer("run-2", enabled=False)
    with off.span("outer"):
        pass
    assert off.spans == []


@pytest.mark.parametrize("n, rank", [(11, 1), (20, 10), (35, 25), (100, 90)])
def test_tail_is_highest_percentile_with_ten_beyond(n, rank):
    xs = [float(i) for i in range(n, 0, -1)]  # unsorted input
    value, pct, count = stats.tail(xs)
    assert value == float(rank)
    assert sum(x > value for x in xs) == 10
    assert pct == pytest.approx(100.0 * rank / n)
    assert count == n


def test_tail_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        stats.tail([1.0] * 10)


def _outcome(kind, seconds, infer_s=None, ok=True):
    return J.Outcome(kind, seconds, 100, 1000, ok, infer_s)


def test_printed_tail_names_its_percentile_and_sample_count(capsys):
    outs = [_outcome("a", 1.0 + i / 100, infer_s=0.5) for i in range(30)]
    m = R.end_to_end("w", outs, [3.0, 1.0, 2.0], 0.0)
    line = next(l for l in capsys.readouterr().out.splitlines() if " job_s_tail " in l)
    assert line.split()[2:5] == ["1.19", "s", "p66.7,"] and line.endswith("n=30")
    assert m["setup_s"][0] == 2.0
    # one kind of 100-row jobs whose median latency is 1.145 s
    assert m["rows_per_s"][0] == pytest.approx(100 / 1.145)
    assert m["job_s_p50"][0] == pytest.approx(1.145)


def test_rates_and_median_use_each_kinds_median_latency(capsys):
    # kind a: 1, 1, 9 s (one stray slow job); kind b: 2, 3, 4 s
    outs = [_outcome("a", s) for s in (1.0, 1.0, 9.0)]
    outs += [_outcome("b", s, infer_s=i) for s, i in ((2.0, 9.0), (3.0, 1.0), (4.0, 2.0))]
    outs += [_outcome("c", 5.0) for _ in range(5)]
    for o, mb in zip(outs, (900, 100, 300, 200, 200, 200) + (400,) * 5):
        o.peak_mb = float(mb)
    m = R.end_to_end("w", outs, [1.0], 0.0)
    assert m["peak_rss_mb"][0] == 400.0  # the median job's peak, not the 900
    assert m["rows_per_s"][0] == pytest.approx(300 / (1.0 + 3.0 + 5.0))
    assert m["mb_per_s"][0] == pytest.approx(3000 / 1e6 / 9.0)
    assert m["job_s_p50"][0] == 3.0
    line = next(l for l in capsys.readouterr().out.splitlines() if " infer_s_p50 " in l)
    assert line.split()[2] == "1.5"  # the first call (9 s) is left out


def test_benchmark_json_names_the_metrics_the_runs_print(capsys):
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    outs = [_outcome("a", 1.0, infer_s=0.5) for _ in range(11)]
    e2e = R.end_to_end("w", outs, [1.0], 0.0)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == [
        (k, u) for k, (_, u) in e2e.items()
    ]
    tr = Tracer("r")
    with tr.span("spark.floor"):
        pass
    per_layer = layers.metrics(tr, layers.Tally(), dict.fromkeys(layers.TIERS, 0),
                               [], 4, 2.0, 1.0)
    assert list(per_layer) == list(layers.LAYER_MAP)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == [
        (k, u) for k, (_, u) in per_layer.items()
    ]
    assert {w["name"] for w in bench["workloads"]} <= set(C.WORKLOADS)


def _job(expected, observed=None, boom=False):
    def run():
        if boom:
            raise RuntimeError("boom")
        return dict(observed), None

    return J.Job("k", run, expected, rows=1, xml_bytes=1)


def test_correct_job_passes():
    assert J.run_job(_job({"count": 5, "sum": "1.50"}, {"count": 5, "sum": "1.50"})).ok


def test_corrupted_expected_value_flips_job_to_failed():
    observed = {"count": 5, "sum": "1.50"}
    out = J.run_job(_job({"count": 5, "sum": "1.51"}, observed))
    assert not out.ok
    assert out.problems == ["sum: expected '1.51', got '1.50'"]


def test_missing_value_and_exception_fail_the_job():
    assert not J.run_job(_job({"count": 5}, {})).ok
    assert not J.run_job(_job({"count": 5}, boom=True)).ok


def test_closed_loop_runs_whole_rounds():
    calls = []

    def mk(kind):
        def run():
            calls.append(kind)
            return {}, None
        return J.Job(kind, run, {}, 1, 1)

    peaks = iter(range(100))
    out = J.closed_loop([mk("a"), mk("b"), mk("c")], rounds=4,
                        peak_mb=lambda: float(next(peaks)))
    assert len(out) == 12 and calls == ["a", "b", "c"] * 4
    # a window opens before each job and its peak is read after it
    assert [o.peak_mb for o in out] == [float(2 * i + 1) for i in range(12)]


@pytest.mark.parametrize("seconds, per_round, rounds", [
    (15, 4, 3), (15, 7, 3), (20, 4, 4), (1, 7, 3), (1, 2, 6), (60, 6, 12),
])
def test_rounds_follow_seconds_and_give_enough_jobs(seconds, per_round, rounds):
    assert J.rounds_for(seconds, per_round, min_jobs=11) == rounds
