"""bench.py's regression report picks only a comparable previous record."""

from __future__ import annotations

import json

import bench


def _write(root, name, doc):
    (root / name).write_text(json.dumps(doc))


def _line(cpus, sf, secs):
    return {"cpus": cpus, "sf": sf, "queries": {"q": secs},
            "queries_warm": {"q": secs / 2}}


def test_deltas_skip_dark_and_foreign_records(tmp_path):
    _write(tmp_path, "BENCH_r03.json",
           {"cpus": 4, "sf": 0.1, "parsed": _line(4, 0.1, 2.0)})
    # newer, but not comparable: another host's core count, another scale
    # factor, a dark run, and a record with no timings
    _write(tmp_path, "BENCH_r04.json",
           {"cpus": 32, "sf": 0.1, "parsed": _line(32, 0.1, 1.0)})
    _write(tmp_path, "BENCH_r05.json",
           {"cpus": 4, "sf": 0.1, "parsed": None})
    _write(tmp_path, "BENCH_r05_sf1.json",
           {"cpus": 4, "sf": 1.0, "parsed": _line(4, 1.0, 9.0)})
    _write(tmp_path, "BENCH_r06.json", {"queries": {"q": 5.0}})

    got = bench.deltas_vs_prev({"q": 3.0}, 4, 0.1, root=str(tmp_path))
    assert got == {"prev": "BENCH_r03.json", "q": "+50%"}
    got = bench.deltas_vs_prev({"q": 0.5}, 4, 0.1, key="queries_warm",
                               root=str(tmp_path))
    assert got == {"prev": "BENCH_r03.json", "q": "-50%"}
    assert bench.deltas_vs_prev({"q": 1.0}, 32, 0.1, root=str(tmp_path)) == {
        "prev": "BENCH_r04.json", "q": "+0%"}
    assert bench.deltas_vs_prev({"q": 1.0}, 8, 0.1, root=str(tmp_path)) == {}


def test_deltas_prefer_plain_round_record(tmp_path):
    _write(tmp_path, "BENCH_r06_control.json",
           {"cpus": 4, "sf": 0.1, "parsed": _line(4, 0.1, 4.0)})
    _write(tmp_path, "BENCH_r06.json",
           {"cpus": 4, "sf": 0.1, "parsed": _line(4, 0.1, 2.0)})
    got = bench.deltas_vs_prev({"q": 2.0}, 4, 0.1, root=str(tmp_path))
    assert got["prev"] == "BENCH_r06.json"
