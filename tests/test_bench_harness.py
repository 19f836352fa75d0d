"""Window-classification helpers shared by bench.py and
scripts/perf_probe.py (the r11 calib_track instrumentation).

Pure-python — no Spark session. These helpers decide which timings in
the round artifacts get a degraded-window tag, so their edge cases
(absent bounds, None stamps, threshold boundary, the threshold
derived from the run's full stamps) are load-bearing for
artifact fidelity, not cosmetics.
"""

from bench import (
    RETRY_CAP,
    _stamp_degraded,
    degraded_threshold,
    plan_retries,
    track_span_degraded,
)

T = 900.0                   # the threshold the run passes in
H = [300.0, 550.0]          # healthy stamp (mt32 well under threshold)
D = [300.0, 1500.0]         # degraded stamp


def _track(*pairs):
    return [{"exec": e, "stamp": s, "full": False} for e, s in pairs]


class TestStampDegraded:
    def test_healthy(self):
        assert _stamp_degraded(H, T) is False

    def test_degraded(self):
        assert _stamp_degraded(D, T) is True

    def test_threshold_is_inclusive(self):
        assert _stamp_degraded([300.0, T], T) is True
        assert _stamp_degraded([300.0, T - 0.1], T) is False

    def test_none_stamp_not_degraded(self):
        # calib unavailable -> the track can't tag that segment
        # (matches pre-r11 edge-stamps-only behavior).
        assert _stamp_degraded(None, T) is False


class TestDegradedThreshold:
    def test_one_and_a_half_times_lowest_full_stamp(self):
        t = [
            {"exec": 0, "stamp": [300.0, 1400.0], "full": True},
            {"exec": 25, "stamp": [300.0, 1000.0], "full": False},
            {"exec": 50, "stamp": [300.0, 1300.0], "full": True},
            {"exec": 75, "stamp": None, "full": True},
        ]
        # mini stamps and None stamps are not reference windows
        assert degraded_threshold(t) == 1.5 * 1300.0

    def test_no_full_mt32_tags_nothing(self):
        t = [{"exec": 0, "stamp": None, "full": True}] + _track((5, D))
        assert degraded_threshold(t) is None
        assert _stamp_degraded(D, None) is False
        assert track_span_degraded(t, 0, 4, None) is False


class TestTrackSpanDegraded:
    def test_healthy_bounds(self):
        t = _track((0, H), (50, H))
        assert track_span_degraded(t, 10, 14, T) is False

    def test_below_bound_degraded(self):
        t = _track((0, D), (50, H))
        assert track_span_degraded(t, 10, 14, T) is True

    def test_above_bound_degraded(self):
        t = _track((0, H), (50, D))
        assert track_span_degraded(t, 10, 14, T) is True

    def test_inside_stamp_degraded(self):
        # A mini stamp landing inside a multi-exec span tags it even
        # when both outer bounds read healthy.
        t = _track((0, H), (12, D), (50, H))
        assert track_span_degraded(t, 10, 14, T) is True

    def test_stamp_at_lo_is_the_below_bound(self):
        # A stamp at exactly exec==lo is the tightest pre-span bound.
        t = _track((0, H), (10, D), (50, H))
        assert track_span_degraded(t, 10, 14, T) is True

    def test_stamp_at_hi_is_the_above_bound(self):
        t = _track((0, H), (14, D), (50, H))
        assert track_span_degraded(t, 10, 14, T) is True

    def test_missing_below_bound_still_reads_above(self):
        # The bug the shared helper fixed: perf_probe's local copy
        # dropped BOTH bounds when below was absent, leaving every
        # span before the first mini stamp blind to a degradation
        # first seen at that stamp.
        t = _track((50, D))
        assert track_span_degraded(t, 0, 4, T) is True
        # ...and the nearest above-bound wins when there are several.
        t2 = _track((5, H), (50, D))
        assert track_span_degraded(t2, 0, 4, T) is False

    def test_missing_above_bound_still_reads_below(self):
        t = _track((0, D))
        assert track_span_degraded(t, 10, 14, T) is True

    def test_single_rep_span_uses_both_bounds(self):
        # bench.py's per-rep call shape: lo == e-1, hi == e.
        t = _track((0, H), (25, D))
        assert track_span_degraded(t, 0, 1, T) is True
        t2 = _track((0, H), (25, H), (50, D))
        assert track_span_degraded(t2, 24, 25, T) is False

    def test_none_stamps_do_not_tag(self):
        t = _track((0, None), (50, None))
        assert track_span_degraded(t, 10, 14, T) is False

    def test_far_stamps_are_not_bounds(self):
        # Only the NEAREST stamp on each side bounds the span: a
        # degraded stamp two stamps away, with a healthy one between,
        # must not tag.
        t = _track((0, D), (25, H), (75, H), (100, D))
        assert track_span_degraded(t, 40, 60, T) is False


class TestPlanRetries:
    DQ = {"a": [1, 2, 3], "b": [4, 5, 6], "c": [7, 8, 9]}
    TIMES = {"a": 1.0, "b": 3.0, "c": 2.0}

    def test_healthy_prestamp_retries_all_slowest_first(self):
        order, skipped, reason = plan_retries(self.DQ, self.TIMES, H, T)
        assert order == ["b", "c", "a"]
        assert skipped == [] and reason == ""

    def test_degraded_prestamp_skips_whole_block(self):
        order, skipped, reason = plan_retries(self.DQ, self.TIMES, D, T)
        assert order == []
        assert skipped == ["b", "c", "a"]
        assert "degraded" in reason

    def test_none_prestamp_does_not_skip(self):
        # calib unavailable classifies as not-degraded (same convention
        # as _stamp_degraded) — the retries still run.
        order, skipped, _ = plan_retries(self.DQ, self.TIMES, None, T)
        assert order == ["b", "c", "a"] and skipped == []

    def test_cap_keeps_slowest_and_lists_rest(self):
        dq = {f"q{i}": [i] for i in range(10)}
        times = {f"q{i}": float(i) for i in range(10)}
        order, skipped, reason = plan_retries(dq, times, H, T, cap=4)
        assert order == ["q9", "q8", "q7", "q6"]
        assert skipped == [f"q{i}" for i in range(5, -1, -1)]
        assert reason == "retry cap 4"

    def test_at_cap_no_skip(self):
        dq = {f"q{i}": [i] for i in range(RETRY_CAP)}
        times = {f"q{i}": float(i) for i in range(RETRY_CAP)}
        order, skipped, reason = plan_retries(dq, times, H, T)
        assert len(order) == RETRY_CAP and skipped == [] and reason == ""

    def test_empty_input(self):
        assert plan_retries({}, {}, H, T) == ([], [], "")
