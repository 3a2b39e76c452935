"""Self-test of the benchmark's metric math.

    python3 -m pytest -q perfbench/test_metrics.py
"""

from __future__ import annotations

import math
import os
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from metrics import OpLedger, ProcSampler, gmean, nearest_rank, tail  # noqa: E402
from reads import pass_orders  # noqa: E402
from tracing import Tracer  # noqa: E402


def test_gmean():
    assert gmean([2.0, 8.0]) == pytest.approx(4.0)
    assert gmean([5.0]) == pytest.approx(5.0)
    assert gmean([1.0, 10.0, 100.0]) == pytest.approx(10.0)
    with pytest.raises(ValueError):
        gmean([])
    with pytest.raises(ValueError):
        gmean([1.0, 0.0])


def test_nearest_rank():
    s = [float(i) for i in range(1, 101)]  # 1..100
    assert nearest_rank(s, 50) == (50.0, 50)
    assert nearest_rank(s, 90) == (90.0, 10)
    assert nearest_rank(s, 99) == (99.0, 1)


def test_tail_keeps_ten_samples_above():
    # 100 samples: p90 leaves exactly 10 above; p95 only 5.
    t = tail([float(i) for i in range(100, 0, -1)])
    assert (t["pct"], t["value"], t["n"], t["above"]) == (90.0, 90.0, 100, 10)
    # 1000 samples: p99 leaves 10 above.
    t = tail([float(i) for i in range(1, 1001)])
    assert (t["pct"], t["value"], t["above"]) == (99.0, 990.0, 10)
    # 40 samples (one warm pass of olap_sql): p75 leaves 10 above.
    t = tail([float(i) for i in range(1, 41)])
    assert (t["pct"], t["value"], t["above"]) == (75.0, 30.0, 10)
    # 37 samples (warm calls of warehouse_dml): the 27th, p72.97.
    t = tail([float(i) for i in range(1, 38)])
    assert (t["value"], t["above"]) == (27.0, 10)
    assert t["pct"] == pytest.approx(100.0 * 27 / 37)


def test_tail_below_twenty_samples():
    t = tail([3.0, 1.0, 2.0, 5.0, 4.0])
    assert (t["pct"], t["value"], t["n"], t["above"]) == (100.0, 5.0, 5, 0)
    # 12 samples (warm calls of pipeline_ops): rank n - 10 would be
    # the second lowest, so the nearest-rank p90 stands in: the 11th.
    t = tail([float(i) for i in range(12, 0, -1)])
    assert (t["value"], t["n"], t["above"]) == (11.0, 12, 1)
    assert t["pct"] == pytest.approx(100.0 * 11 / 12)
    # 20 samples: the median has exactly 10 above it.
    t = tail([float(i) for i in range(1, 21)])
    assert (t["pct"], t["value"], t["above"]) == (50.0, 10.0, 10)


def test_ledger_first_and_warm_and_failures():
    led = OpLedger()
    led.record("a", 2.0)
    led.record("b", 8.0)
    led.record("a", 9.0, warmup=True)  # warm-up: an attempt, no latency
    led.record("a", 1.0)
    led.record("a", 3.0)
    led.record("b", 4.0)
    led.record("c", None, "ValueError: boom")  # raised: counted, no latency
    led.record("c", None, "ValueError: again", warmup=True)  # a failed warm-up counts
    led.fail("b", "2/10 rows differ")  # wrong result found later
    assert led.attempted == 8
    assert led.failed == 3
    assert led.failed_frac() == pytest.approx(3 / 8)
    assert sorted(led.failures) == ["b", "c"]
    s = led.summary()
    assert s["first_latency_gmean_s"] == pytest.approx(4.0)  # gmean(2, 8)
    assert s["latency_gmean_s"] == pytest.approx(math.sqrt(2.0 * 4.0))  # medians 2 and 4
    assert s["latency_p50_s"] == pytest.approx(3.0)  # pool 1, 3, 4


def test_pass_orders_balance_predecessors():
    import random
    from collections import Counter
    from itertools import pairwise

    names = ["a", "b", "c"]
    for seed in range(6):
        orders = pass_orders(names, 6, random.Random(seed))
        assert all(sorted(o) == names for o in orders)
        calls = [name for o in orders for name in o]
        pairs = Counter(pairwise(calls + calls[:1]))  # the cycle closes
        # each op after each other op three times, never after itself
        assert pairs == Counter({(x, y): 3 for x in names for y in names if x != y})
    assert pass_orders(names, 6, random.Random(7)) == pass_orders(names, 6, random.Random(7))
    # Four ops (not prime): seeded shuffles.
    four = ["a", "b", "c", "d"]
    assert [sorted(o) for o in pass_orders(four, 5, random.Random(7))] == [four] * 5


def test_sampler_counts_a_child_that_exited_between_samples(tmp_path):
    # The child starts after the first sample and is reaped before the
    # second; its CPU and writes must still show, through our counters.
    sampler = ProcSampler(os.getpid(), None)
    p0 = sampler.sample()
    out = tmp_path / "w.bin"
    subprocess.run([sys.executable, "-c",
                    "import os, time\n"
                    f"f = open({str(out)!r}, 'wb'); f.write(os.urandom(4 << 20)); f.flush()\n"
                    "os.fsync(f.fileno())\n"
                    "t = time.process_time()\n"
                    "while time.process_time() - t < 0.3: pass\n"], check=True)
    p1 = sampler.sample()
    assert p1["cpu_s"] - p0["cpu_s"] >= 0.25
    assert p1["write_bytes"] - p0["write_bytes"] >= 4 << 20


def test_tracer_self_time_and_off_is_free():
    tr = Tracer(True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    st = tr.self_times()
    outer = tr.durations("outer")[0]
    inner = tr.durations("inner")[0]
    assert st["outer"] == pytest.approx(outer - inner)
    assert tr.spans[1]["parent"] == tr.spans[0]["id"]

    off = Tracer(False)
    with off.span("x"):
        pass

    class Mod:
        @staticmethod
        def f():
            return 1

    off.wrap(Mod, "f", "mod.f")
    assert Mod.f() == 1 and off.spans == []
    tr.wrap(Mod, "f", "mod.f")
    assert Mod.f() == 1 and tr.durations("mod.f")
    tr.restore()
    assert not tr._patched
