"""The comparison tool refuses results taken on different hosts."""

import pytest

from perfbench.compare import compare


def _result(cores: int, value: float) -> dict:
    return {
        "workload": "search", "trace": 0, "host_calib_ms": 0.3,
        "op_walls": [value / 1e3],
        "provenance": {"nproc": cores, "cores_available": cores,
                       "master": f"local[{cores}]"},
        "result": {"metrics": {"op_ms": {"value": value, "unit": "ms"}}},
    }


BENCH = {"end_to_end": [{"name": "op_ms", "unit": "ms",
                         "better": "lower", "bound": 0.1}]}


def test_refuses_different_core_counts():
    with pytest.raises(ValueError, match="different hosts"):
        compare([_result(4, 1.0)], [_result(32, 1.0)], BENCH)
    with pytest.raises(ValueError, match="different hosts"):
        compare([_result(4, 1.0), _result(8, 1.0)], [_result(4, 1.0)], BENCH)


def test_flags_a_regression_beyond_the_bound():
    base = [_result(4, v) for v in (1.0, 1.02, 0.98)]
    same = compare(base, [_result(4, v) for v in (1.05, 1.0, 1.01)], BENCH)
    worse = compare(base, [_result(4, v) for v in (1.2, 1.25, 1.3)], BENCH)
    assert same[-1].endswith(" ok")
    assert worse[-1].endswith(" REGRESSION")


def test_flags_host_calibrations_that_differ():
    def res(cal):
        return dict(_result(4, 1.0), host_calib_ms=cal)

    assert "raw op p50 ms: base 1 head 1" in compare(
        [res(2.0)], [res(2.0)], BENCH)[0]

    assert "CALIBRATION" not in compare([res(2.0)], [res(2.1)], BENCH)[0]
    assert "CALIBRATION" in compare([res(2.0)], [res(2.5)], BENCH)[0]
