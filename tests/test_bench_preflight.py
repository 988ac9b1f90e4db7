"""bench.py preflight spread, without a Spark session."""

import pytest

import bench


def test_probe_ratio_is_unrounded_with_clamped_denominator():
    # rounded to 3 decimals these read 0.003 / 0.001 = 3.0, over the
    # 2.5 gate; the raw spread is 1.86
    assert bench.probe_ratio([0.0026, 0.0014, 0.002]) == pytest.approx(0.0026 / 0.0014)
    # sub-millisecond probes rounded to 0.0 gave no ratio at all and
    # flagged a fast host as degraded; the clamp keeps the spread small
    assert bench.probe_ratio([0.0004, 0.0002, 0.0003]) == pytest.approx(0.4)
    assert bench.probe_ratio([0.0, 0.0]) == 0.0
    # a real spike is still a spike
    assert bench.probe_ratio([0.9, 0.1, 0.12]) == pytest.approx(9.0)
