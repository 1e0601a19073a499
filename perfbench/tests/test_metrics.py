"""Pure metric helpers of run.py, spans.py and workloads.py."""

from __future__ import annotations

import random

import pytest

from run import TRACED_BLOCK, drift_frac, geomean, overhead_frac, tail
from spans import Tracer
from workloads import WORKLOADS, layer_of


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    xs = [float(i) for i in range(1, 41)]  # 40 samples
    value, pct = tail(random.Random(0).sample(xs, len(xs)))
    assert value == 30.0  # ten samples (31..40) lie beyond it
    assert pct == 75.0


def test_tail_of_a_small_sample_is_its_maximum():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0)
    # 20 samples: ten beyond would put the tail at p50, so the maximum is used
    assert tail([float(i) for i in range(20)]) == (19.0, 100.0)


def test_geomean():
    assert geomean([1.0, 4.0, 16.0]) == pytest.approx(4.0)


def test_drift_is_the_fitted_trend_over_the_median_pass():
    assert drift_frac([10.0, 9.0], [False, False]) == pytest.approx(-1.0 / 9.5)
    assert drift_frac([5.0, 5.0, 5.0], [False] * 3) == pytest.approx(0.0)


def test_tracing_overhead_and_drift_are_told_apart():
    # a steady 0.5 s/pass speed-up plus a 1 s tracing cost on traced passes
    flags = list(TRACED_BLOCK) * 2
    walls = [10.0 - 0.5 * i + (1.0 if t else 0.0) for i, t in enumerate(flags)]
    # untraced passes 9.5, 9.0, 7.5, 7.0: median 8.25; traced mean 9.25
    assert drift_frac(walls, flags) == pytest.approx(-3.5 / 8.25)
    assert overhead_frac(walls, flags) == pytest.approx(1.0 / 8.25)


def test_self_time_subtracts_children():
    tr = Tracer("r")
    with tr.span("op") as op:
        with tr.span("build"):
            pass
        with tr.span("collect"):
            pass
    st = tr.self_time()
    kids = sum(s.duration for s in tr.spans if s.parent == op.span_id)
    assert st[op.span_id] == pytest.approx(op.duration - kids)
    assert all(s.run_id == "r" for s in tr.spans)


def test_every_pass_runs_every_operation_in_a_seeded_order():
    for w in WORKLOADS.values():
        a = w.pass_order(random.Random(7))
        assert a == w.pass_order(random.Random(7))
        assert sorted(a) == sorted(w.ops)


def test_layer_of():
    assert layer_of("project_orbit_spark.similarity.cosine") == "similarity"
    with pytest.raises(ValueError):
        layer_of("project_orbit_spark.registry")
