"""Every workload generator is byte-deterministic for a given seed."""

import hashlib
import os

from perfbench import inputs


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for root, _dirs, files in sorted(os.walk(path)):
        for f in sorted(files):
            with open(os.path.join(root, f), "rb") as fh:
                h.update(f.encode() + fh.read())
    return h.hexdigest()


def test_pages_are_byte_identical_per_seed(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    assert inputs.write_pages(a, 30, 7, tail_vocab=50) == inputs.write_pages(
        b, 30, 7, tail_vocab=50)
    inputs.write_pages(c, 30, 8, tail_vocab=50)
    assert _digest(a) == _digest(b) != _digest(c)


def test_maintenance_batch_reuses_urls_and_is_deterministic(tmp_path):
    base = [f"u{i}" for i in range(100)]
    p1 = inputs.maintenance_plan(3, base, 20, 5)
    assert p1 == inputs.maintenance_plan(3, base, 20, 5)
    assert p1 != inputs.maintenance_plan(4, base, 20, 5)
    assert len(p1["repeat_urls"]) == 4 and len(p1["delete_urls"]) == 5
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    for d in (a, b):
        inputs.write_pages(d, 20, p1["batch_seed"], url_prefix="m/",
                           reuse_urls=p1["repeat_urls"])
    assert _digest(a) == _digest(b)


def test_battery_tables_are_byte_identical_per_seed(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    inputs.write_battery(a, 5)
    inputs.write_battery(b, 5)
    inputs.write_battery(c, 6)
    assert _digest(a) == _digest(b) != _digest(c)
    assert sorted(os.listdir(a)) == sorted(
        f"{t}.parquet" for t in ("documents", "nation", "customer", "orders",
                                 "lineitem", "events"))


def test_query_streams_and_orders_are_deterministic():
    q = inputs.query_stream(9, 500, 250)
    assert q == inputs.query_stream(9, 500, 250)
    assert q != inputs.query_stream(10, 500, 250)
    assert all(t.startswith("tail") for t in (x[0] for x in q))
    flags = inputs.first_touch_flags(q)
    assert flags[0] and 0 < sum(flags) < len(q)
    names = ["a", "b", "c", "d"]
    assert inputs.battery_order(1, names) == inputs.battery_order(1, names)
    assert sorted(inputs.battery_order(1, names)) == names
