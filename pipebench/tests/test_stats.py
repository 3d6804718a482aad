import os

import pytest

from pipebench.stats import Tracer, exec_totals, median, nearest_rank, read_event_log

DATA = os.path.join(os.path.dirname(__file__), "data", "eventlog")


def test_nearest_rank_values():
    xs = list(range(1, 101))  # 1..100
    assert nearest_rank(xs, 50, min_tail=0) == 50
    assert nearest_rank(xs, 90, min_tail=0) == 90
    assert nearest_rank(xs, 100, min_tail=0) == 100
    assert nearest_rank([3.0, 1.0, 2.0], 50, min_tail=0) == 2.0


def test_nearest_rank_refuses_thin_tail():
    # p90 of 100 samples leaves exactly 10 beyond it: reported
    assert nearest_rank(range(100), 90) == 89
    # 99 samples leave 9 beyond the rank: refused
    assert nearest_rank(range(99), 90) is None
    assert nearest_rank([1.0] * 50, 90) is None
    assert nearest_rank([], 50) is None
    with pytest.raises(ValueError):
        nearest_rank([1.0], 0)


def test_median():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 2, 3]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_self_time_on_nested_spans():
    now = [0.0]

    def clock():
        return now[0]

    t = Tracer(clock=clock)
    with t.span("op"):
        now[0] += 1.0  # op's own work
        with t.span("build"):
            now[0] += 2.0
            with t.span("jobs"):
                now[0] += 4.0
        with t.span("exec"):
            now[0] += 3.0
    with t.span("op"):
        now[0] += 0.5
    selfs = t.self_times()
    assert selfs == {"op": 1.5, "build": 2.0, "jobs": 4.0, "exec": 3.0}
    assert [s["end"] - s["start"] for s in t.spans if s["name"] == "op"] == [10.0, 0.5]
    assert sum(selfs.values()) == 10.5  # self times partition the wall


def test_event_log_reader_on_canned_log():
    events = read_event_log(DATA)
    assert [e["Event"] for e in events].count("SparkListenerTaskEnd") == 3
    tot = exec_totals(events)
    assert tot["jobs"] == 2
    assert tot["tasks"] == 3
    assert tot["task_cpu_s"] == pytest.approx(1.0)
    assert tot["task_run_s"] == pytest.approx(1.15)
    assert tot["gc_s"] == pytest.approx(0.025)
    assert tot["shuffle_write_bytes"] == 3072
    assert tot["spill_bytes"] == 192
    assert tot["python_run_s"] == pytest.approx(0.4)


def test_event_log_windows():
    events = read_event_log(DATA)
    first = exec_totals(events, windows=[(900, 2000)])
    assert (first["jobs"], first["tasks"]) == (1, 2)
    assert first["python_run_s"] == pytest.approx(0.3)
    second = exec_totals(events, windows=[(4000, 6000)])
    assert (second["jobs"], second["tasks"], second["shuffle_write_bytes"]) == (1, 1, 0)
    assert exec_totals(events, windows=[])["tasks"] == 0
