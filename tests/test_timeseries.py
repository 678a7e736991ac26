"""resample_locf (operators/timeseries.py): grid construction, LOCF
carry, per-slot last-by-(ts,id), NULL handling."""

from datetime import datetime

import pytest

from datafusion_geo_spark.operators.timeseries import resample_locf


def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double")


def _t(minute, second=0):
    return datetime(2024, 1, 1, 0, minute, second)


def test_grid_and_locf(spark):
    rows = [
        (1, _t(0), 7, 10.0),     # slot 0
        (2, _t(0, 30), 7, 20.0),  # slot 0 (later -> wins)
        (3, _t(4), 7, 99.0),     # slot 4; slots 1-3 are gaps
    ]
    out = {r.slot_ts.minute: (r.n_obs, r.value, r.filled)
           for r in resample_locf(_ev(spark, rows), step_minutes=1)
           .collect()}
    assert out == {
        0: (2, 20.0, False),
        1: (0, 20.0, True),
        2: (0, 20.0, True),
        3: (0, 20.0, True),
        4: (1, 99.0, False),
    }


def test_tie_breaks_by_id_then_null_value_carries(spark):
    rows = [
        (5, _t(0, 30), 1, 1.0),
        (9, _t(0, 30), 1, 2.0),   # same ts -> higher id wins
        (10, _t(1), 1, None),     # NULL obs: counted, carries nothing
    ]
    out = sorted(resample_locf(_ev(spark, rows), step_minutes=1)
                 .collect(), key=lambda r: r.slot_ts)
    assert (out[0].n_obs, out[0].value) == (2, 2.0)
    assert (out[1].n_obs, out[1].value, out[1].filled) == (1, 2.0,
                                                           False)


def test_leading_gap_stays_null_and_keys_isolated(spark):
    rows = [
        (1, _t(0), 1, None),     # key 1 starts with a NULL value
        (2, _t(2), 1, 5.0),
        (3, _t(1), 2, 42.0),     # key 2: single slot
    ]
    got = {(r.user_id, r.slot_ts.minute): (r.value, r.filled)
           for r in resample_locf(_ev(spark, rows), step_minutes=1)
           .collect()}
    assert got == {
        (1, 0): (None, False),
        (1, 1): (None, True),
        (1, 2): (5.0, False),
        (2, 1): (42.0, False),
    }


def test_null_ts_dropped_and_validation(spark):
    rows = [(1, None, 1, 1.0), (2, _t(3), 1, 2.0)]
    out = resample_locf(_ev(spark, rows), step_minutes=1).collect()
    assert len(out) == 1 and out[0].value == 2.0
    with pytest.raises(ValueError, match="step_minutes"):
        resample_locf(_ev(spark, rows), step_minutes=0)


def test_resample_locf_fuzz(spark):
    """Property: grid bounds, per-slot last, and LOCF carry equal a
    direct Python reference for random event sets."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=8, deadline=None)
    @given(st.data())
    def run(data):
        n = data.draw(st.integers(1, 15), label="n")
        rows, ref = [], []
        for i in range(n):
            key = data.draw(st.integers(0, 2), label=f"k{i}")
            minute = data.draw(st.integers(0, 20), label=f"m{i}")
            sec = data.draw(st.integers(0, 59), label=f"s{i}")
            val = data.draw(st.one_of(
                st.none(), st.integers(-5, 5)), label=f"v{i}")
            v = float(val) if val is not None else None
            rows.append((i, _t(minute, sec), key, v))
            ref.append((i, minute, sec, key, v))
        got = {(r.user_id, r.slot_ts.minute):
               (r.n_obs, r.value, r.filled)
               for r in resample_locf(_ev(spark, rows),
                                      step_minutes=1).collect()}
        want = {}
        for key in {k for _, _, _, k, _ in ref}:
            obs = [(m, s, i, v) for i, m, s, k, v in ref if k == key]
            lo = min(m for m, _, _, _ in obs)
            hi = max(m for m, _, _, _ in obs)
            carry = None
            for slot in range(lo, hi + 1):
                # the operator's per-slot winner is max(ts, id)
                here = sorted((s, i, v) for m, s, i, v in obs
                              if m == slot)
                if here:
                    last = here[-1][2]
                    # a NULL-valued winner carries nothing: the
                    # previous non-NULL keeps flowing
                    if last is not None:
                        carry = last
                    lastv = carry if last is None else last
                else:
                    lastv = carry
                want[(key, slot)] = (len(here),
                                     lastv if here else carry,
                                     not here)
        assert got == want

    run()
