"""Spark-free tests of the benchmark's pure helpers.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import math
import os

import numpy as np
import pytest

from perfbench import box, checks, health, speed, stats
from perfbench.stats import Span


# -- the percentile rule -------------------------------------------------------


@pytest.mark.parametrize(
    "n, nn",
    [(19, None), (20, 50), (25, 60), (40, 75), (50, 80), (99, 89), (100, 90), (1000, 99)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, nn):
    assert stats.tail_percentile(n) == nn


def test_tail_percentile_is_the_highest_such_percentile():
    for n in range(20, 400):
        nn = stats.tail_percentile(n)
        assert n * (1 - nn / 100) >= 10 - 1e-9
        assert n * (1 - (nn + 1) / 100) < 10


def test_percentile_nearest_rank():
    values = [float(v) for v in range(1, 101)]
    assert stats.percentile(values, 50) == 50.0
    assert stats.percentile(values, 90) == 90.0
    assert stats.percentile([3.0], 99) == 3.0


# -- span self-time --------------------------------------------------------------


def test_self_time_without_concurrency_is_duration_minus_children():
    spans = [
        Span(0, "wave.run_wave", None, 0.0, 10.0),
        Span(1, "fetch.fetch_scheduled", 0, 1.0, 4.0),
        Span(2, "store.commit", 0, 5.0, 9.0),
        Span(3, "store.write.pending", 2, 6.0, 8.0),
    ]
    st = stats.self_times(spans)
    assert st == pytest.approx({0: 3.0, 1: 3.0, 2: 2.0, 3: 2.0})


def test_self_time_splits_overlapping_concurrent_commit_writes():
    # one commit [0, 10] whose table writes run on three threads at once
    spans = [
        Span(0, "store.commit", None, 0.0, 10.0),
        Span(1, "store.write.pending", 0, 1.0, 5.0),
        Span(2, "store.write.documents", 0, 2.0, 8.0),
        Span(3, "store.write.seen", 0, 2.0, 3.0),
    ]
    st = stats.self_times(spans)
    # [1,2) pending alone; [2,3) three-way; [3,5) two-way; [5,8) documents alone
    assert st[1] == pytest.approx(1 + 1 / 3 + 1)
    assert st[2] == pytest.approx(1 / 3 + 1 + 3)
    assert st[3] == pytest.approx(1 / 3)
    assert st[0] == pytest.approx(10 - 7)  # the part no write covers
    # shares never count an instant twice: they add up to the commit's wall
    assert sum(st.values()) == pytest.approx(10.0)
    # while summed durations would (4 + 6 + 1 > 7 covered seconds)
    assert sum(stats.wall_by_name(spans)[n] for n in ("store.write.pending", "store.write.documents", "store.write.seen")) == pytest.approx(11.0)


def test_self_time_of_a_span_whose_children_overlap_it_entirely():
    spans = [Span(0, "seen.filter_new", None, 0.0, 2.0), Span(1, "seen.probe", 0, 0.0, 2.0)]
    assert stats.self_times(spans) == pytest.approx({0: 0.0, 1: 2.0})


# -- ledger coverage ---------------------------------------------------------------


def test_ledger_attributes_the_wall_to_layers_below_the_root_spans():
    spans = [
        Span(0, "wave.run_wave", None, 0.0, 4.0),
        Span(1, "seen.probe", 0, 1.0, 2.0),
        Span(2, "wave.run_wave", None, 5.0, 8.0),
        Span(3, "store.commit", 2, 5.0, 8.0),
        Span(4, "store.write.seen", 3, 6.0, 7.0),
        Span(5, "store.write.bloom", 3, 6.5, 7.5),
        Span(6, "trace.count", 0, 3.0, 3.5),
    ]
    led = stats.ledger(spans, wall=8.0)
    assert led["covered_s"] == pytest.approx(4.0 + 3.0)  # the two root spans
    assert led["by_layer"] == pytest.approx({"wave": 2.5, "seen": 1.0, "store": 3.0, "trace": 0.5})
    assert led["by_name"]["store.write.seen"] == pytest.approx(0.5 + 0.25)
    # probe 1 + commit 1.5 + writes 1.5, over the wall less the tracer's 0.5
    assert led["attributed_s"] == pytest.approx(4.0)
    assert led["coverage"] == pytest.approx(4.0 / 7.5)


def test_ledger_coverage_is_zero_when_nothing_below_the_roots_is_traced():
    assert stats.ledger([Span(0, "wave.run_wave", None, 0.0, 9.0)], wall=10.0)["coverage"] == 0.0
    assert stats.ledger([], wall=0.0)["coverage"] == 0.0


# -- the rest --------------------------------------------------------------------------


def test_quartile_spread_matches_statistics_quantiles():
    values = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 10.3, 9.9]
    import statistics

    q1, q2, q3 = statistics.quantiles(values, n=4)
    assert stats.quartile_spread(values) == pytest.approx((q3 - q1) / q2)


def test_sig_keeps_six_significant_digits():
    assert stats.sig(1.23456789) == 1.23457
    assert stats.sig(12345.6789) == 12345.7
    assert stats.sig(0.000123456789) == 0.000123457
    assert stats.sig(0.0) == 0.0


def test_seq_key_compared_as_hex_value():
    oracle = [(1, "00000000000000060000000a", "u1", "s"), (1, "0000000000000006000000ff", "u2", "s")]
    engine = [(1, "00000000000000060000000A", "u1", "s"), (1, "0000000000000006000000FF", "u2", "s")]
    assert checks.compare_order(engine, oracle) == (True, 2)
    assert checks.compare_order(engine[::-1], oracle) == (False, 0)
    assert checks.compare_order(engine[:1], oracle) == (False, 0)


def test_search_laws():
    rows = [
        {"price": None, "in_stock": True, "similarity_score": 0.5},
        {"price": 100.0, "in_stock": True, "similarity_score": 0.3},
        {"price": 200.0, "in_stock": True, "similarity_score": 0.2},
    ]
    assert checks.search_laws(rows, True, None, None, 0.2)
    assert not checks.search_laws(rows[::-1], False, None, None, 0.2)
    assert not checks.search_laws(rows, False, 150.0, None, 0.2)
    assert not checks.search_laws(rows, False, None, None, 0.25)


def test_digest_book_flags_a_changed_result(tmp_path):
    path = str(tmp_path / "state" / "digests.json")
    book = checks.DigestBook(path)
    assert book.check("q", "abc")
    book.save()
    again = checks.DigestBook(path)
    assert again.check("q", "abc") and not again.check("q", "abd")
    assert again.check("other", "abd")


def test_quiet_stamp():
    assert box.quiet_stamp(1.0, 5.0, 4) == {
        "quiet": True, "loadavg_1m_before": 1.0, "loadavg_1m_after": 5.0, "nproc": 4,
    }
    loud = box.quiet_stamp(4.5, 9.0, 4)
    assert loud["quiet"] is False
    assert loud["reason"] == "loadavg_1m_before=4.50>nproc=4;loadavg_1m_after=9.00>2*nproc=8"


def test_driver_heap_fits_the_box():
    assert box.driver_heap_mb(15 * 1024 * 1024) == 1920
    assert box.driver_heap_mb(2 * 1024 * 1024) == 1024
    assert box.driver_heap_mb(512 * 1024 * 1024) == 4096


def test_bloom_and_cuckoo_health():
    m, k = 64, 3
    half = np.packbits(np.array([1, 0] * 32, dtype=np.uint8)).tobytes()
    empty = bytes(m // 8)
    h = health.bloom_health([half, empty], m, k)
    assert h["fill_max"] == 0.5 and h["fill_mean"] == 0.25
    assert math.isclose(h["est_fpr_max"], 0.125)
    slots = np.zeros(16, dtype=np.uint16)
    slots[:4] = [7, 9, 1, 3]
    c = health.cuckoo_health([slots.tobytes()])
    assert c["load_max"] == 0.25


# -- machine speed ---------------------------------------------------------------


def test_at_reference_scales_times_and_rates_oppositely():
    ref = speed.REF_PROBE_S
    # a box twice as slow as the reference: times halve, rates double
    assert math.isclose(speed.at_reference(10.0, "s", 2 * ref), 5.0)
    assert math.isclose(speed.at_reference(40.0, "1/s", 2 * ref), 80.0)
    # twice as fast: times double
    assert math.isclose(speed.at_reference(10.0, "s", ref / 2), 20.0)
    # no probe: the value as measured
    assert speed.at_reference(3.0, "s", 0.0) == 3.0


def test_probe_within_the_dead_band_counts_as_the_reference_speed():
    ref, band = speed.REF_PROBE_S, speed.DEAD_BAND
    for probe_s in (ref, ref * 1.1, ref / 1.1, ref * band * 0.99, ref / (band * 0.99)):
        assert speed.speed_factor(probe_s) == 1.0
        assert speed.at_reference(3.0, "s", probe_s) == 3.0
    assert math.isclose(speed.speed_factor(ref * band * 1.01), 1 / (band * 1.01))
    assert math.isclose(speed.speed_factor(ref / (band * 1.01)), band * 1.01)


def test_probe_returns_one_cpu_time_per_task_and_joins_its_processes():
    samples = speed.probe(2, 1)
    assert len(samples) == 2 and all(s > 0 for s in samples)
    assert not box.descendants(os.getpid())
