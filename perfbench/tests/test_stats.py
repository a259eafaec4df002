"""Self-tests of the benchmark's arithmetic on synthetic input (no Spark).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import stats  # noqa: E402
from sparkrest import Job, Stage, summarize  # noqa: E402
from spans import Tracer  # noqa: E402


def test_union_of_overlapping_intervals():
    assert stats.union_length([]) == 0.0
    assert stats.union_length([(0, 1), (2, 3)]) == 2.0          # disjoint
    assert stats.union_length([(0, 10), (2, 3)]) == 10.0        # nested
    assert stats.union_length([(0, 4), (2, 6), (5, 7)]) == 7.0  # chained overlap
    assert stats.union_length([(0, 1), (1, 2)]) == 2.0          # touching
    assert stats.union_length([(3, 3), (5, 4)]) == 0.0          # empty / inverted
    assert stats.union_length([(2, 6), (0, 4)]) == 6.0          # unsorted input


def test_self_time_subtracts_the_union_of_children():
    assert stats.self_time((0, 10), []) == 10.0
    assert stats.self_time((0, 10), [(1, 3), (2, 4), (8, 12)]) == 5.0
    assert stats.self_time((0, 10), [(0, 10), (0, 5)]) == 0.0


def test_geomean():
    assert stats.geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert stats.geomean([2.0, 2.0, 2.0]) == pytest.approx(2.0)
    assert stats.geomean([0.5, 8.0, 1.0]) == pytest.approx(math.exp(math.log(4.0) / 3))
    for bad in ([], [1.0, 0.0], [-1.0]):
        with pytest.raises(ValueError):
            stats.geomean(bad)


def test_fail_frac():
    assert stats.fail_frac(5, 0) == 0.0
    assert stats.fail_frac(8, 2) == 0.25
    assert stats.fail_frac(3, 3) == 1.0
    for attempted, failed in ((0, 0), (2, 3), (2, -1)):
        with pytest.raises(ValueError):
            stats.fail_frac(attempted, failed)


def _job(i, start, end, stages, group=None):
    return Job(i, group, start, end, tuple(stages))


def _stage(i, status="COMPLETE", run_s=1.0, cpu_s=0.5, shuffle_w=0):
    return Stage(i, status, 4, run_s, cpu_s, 0.1, 1024 * 1024, 0, shuffle_w)


def test_summarize_spark_counters():
    jobs = [_job(0, 0, 4, [0, 1]), _job(1, 2, 6, [2]), _job(2, 8, 9, [3])]
    stages = [_stage(0), _stage(1, status="SKIPPED", run_s=0, cpu_s=0), _stage(2),
              _stage(3, shuffle_w=2 * 1024 * 1024)]
    c = summarize(jobs, stages, [(0, 10)], cores=2)
    assert c["jobs"] == 3
    assert c["stages"] == 3                      # the skipped stage ran nothing
    assert c["tasks"] == 12
    assert c["job_busy_s"] == 7.0                # union of 0-6 and 8-9
    assert c["driver_gap_s"] == 3.0
    assert c["executor_run_s"] == 3.0
    assert c["slot_util"] == pytest.approx(3.0 / (7.0 * 2))
    assert c["cpu_s"] == 1.5
    assert c["input_mb"] == 3.0
    assert c["shuffle_write_mb"] == 2.0
    # two windows (the batch's fresh and re-run phases): the gap between them
    # is not wall time of the pass
    c2 = summarize(jobs, stages, [(0, 6), (8, 9)], cores=2)
    assert c2["driver_gap_s"] == 0.0
    # a job that started before the window counts only inside it; summing
    # overlapping durations instead of their union would give a negative gap
    c3 = summarize([_job(0, -5, 2, [0]), _job(1, 0, 2, [0])], stages[:1], [(0, 10)], 2)
    assert c3["job_busy_s"] == 2.0 and c3["driver_gap_s"] == 8.0


def test_tracer_self_times_and_disabled_tracer(tmp_path):
    t = Tracer(enabled=True)
    with t.span("unit", "query") as rec:
        with t.span("builder", "query"):
            pass
    t.add("job0", "spark", rec["start"], rec["start"], rec["id"])
    out = tmp_path / "spans.json"
    t.write(str(out))
    spans = json.loads(out.read_text())
    assert [s["name"] for s in spans] == ["unit", "builder", "job0"]
    assert spans[1]["parent"] == spans[0]["id"]
    unit = spans[0]
    assert unit["self_s"] == pytest.approx(
        (unit["end"] - unit["start"]) - (spans[1]["end"] - spans[1]["start"]))
    off = Tracer(enabled=False)
    with off.span("unit", "query") as rec:
        assert rec is None
    off.add("job0", "spark", 0, 1, None)
    assert off.spans == []


def test_seeded_order_is_a_deterministic_permutation():
    from workloads import ANN, seeded_order

    a = seeded_order(ANN, 1, 0)
    assert sorted(a) == sorted(ANN)
    assert a == seeded_order(ANN, 1, 0)
    assert len({seeded_order(ANN, s, 0) for s in range(20)}) > 1
    assert len({seeded_order(ANN, 1, k) for k in range(20)}) > 1


def test_datagen_is_deterministic():
    import datagen

    a = datagen.tables(42, 0.0005)
    b = datagen.tables(42, 0.0005)
    assert set(a) == set(datagen.TABLES)
    for name in datagen.TABLES:
        assert a[name].equals(b[name]), name
    assert not a["embeddings"].equals(datagen.tables(7, 0.0005)["embeddings"])
