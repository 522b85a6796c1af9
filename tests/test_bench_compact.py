"""bench.py's compact last line, checked without a JVM: only the final
stdout line is parsed, inside a 2000-char tail window, so the line
built from a fully populated BENCH_DETAIL object must fit and still
carry every key tests/test_bench_contract.py asserts."""

from __future__ import annotations

import json

import bench


def _secs(names, base: float) -> dict[str, float]:
    # 7-decimal floats: longer than any value bench rounds to
    return {n: round(base + i / 7.0, 7) for i, n in enumerate(names)}


def _full() -> dict:
    tiers = {}
    for t in bench.TIERS.values():
        if t.tables is None:  # the sf tier is the object's top level
            continue
        queries = _secs(t.ops, 12.3456789)
        duck = _secs(t.ops, 3.1415926)
        tiers[t.section] = {
            "metric": t.metric,
            "value": round(sum(queries.values()), 7),
            "queries": queries,
            "duckdb_sec": duck,
            "duckdb_total_sec": round(sum(duck.values()), 7),
            "ratio_vs_duckdb": {n: round(queries[n] / duck[n], 7) for n in t.ops},
            "runs": t.runs,
            "copies": {n: c for n, (_, c) in t.tables.items()},
            "steal_pct": 12.3456789,
        }
    verb = {"sec": 1.2345678, "bytes": 123456789012}
    lake = {
        "metric": "scale100_lake_write_path",
        "bulk_load": {**verb, "rows": 15000000},
        "append_10pct": verb,
        **{f"merge_{m}_{f}": {**verb, "rows_matched": 150000}
           for m in ("cow", "dv") for f in ("0.1pct", "1pct", "10pct")},
        **{f"merge_dv_vs_cow_{f}": {"bytes_ratio": 0.1234567, "sec_ratio": 0.7654321}
           for f in ("0.1pct", "1pct", "10pct")},
        "delete_cow_1pct": verb,
        "delete_dv_1pct": verb,
        "compact_materialize": verb,
        "steal_pct": 12.3456789,
    }
    queries = _secs(bench.HEADLINE, 0.1234567)
    duck = _secs(bench.HEADLINE, 0.0123456)
    return {
        "metric": "headline_total_wall_sec",
        "value": round(sum(queries.values()), 7),
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
        "duckdb_sec": duck,
        "duckdb_total_sec": round(sum(duck.values()), 7),
        **tiers,
        "lake": lake,
        "streaming": {
            "metric": "streaming_availablenow_wall_sec",
            "stream_sink_sec": 1.2345678,
            "runs": 3,
            "steal_pct": 12.3456789,
        },
        "steal_pct": 12.3456789,
        "config": {"cpus": "32", "shuffle_partitions": "64", "aqe": "true"},
    }


def test_compact_line_fits_tail_window_with_contract_keys():
    line = bench.compact_line(_full())
    assert len(line) <= 1900, len(line)
    payload = json.loads(line)
    assert payload["metric"] == "headline_total_wall_sec"
    assert payload["unit"] == "sec"
    assert payload["sf"] == 0.1
    assert payload["value"] > 0
    assert set(payload["queries"]) == set(bench.HEADLINE)
    assert all(v > 0 for v in payload["queries"].values())
    assert payload["duckdb_total_sec"] > 0
    for tier in ("scale", "scale100", "scale1000"):
        assert payload[tier]["value"] > 0
        assert payload[tier]["duckdb_total_sec"] > 0
        assert payload[tier]["ratio"] > 0
    assert payload["lake"]["merge_dv_vs_cow_bytes_1pct"] == 0.1234567
    assert payload["streaming"]["stream_sink_sec"] == 1.2345678


def test_compact_line_reports_skipped_and_failed_sections():
    full = _full()
    full["scale1000"] = None
    full["lake"] = {"metric": "scale100_lake_write_path", "error": "E" * 300}
    payload = json.loads(bench.compact_line(full))
    assert payload["scale1000"] is None
    assert payload["lake"] == {"error": "E" * 300}
    assert set(payload["queries"]) == set(bench.HEADLINE)
