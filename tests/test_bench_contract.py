"""bench.py contract test: the driver consumes ONE JSON line with
specific keys — run the real script as a subprocess at the smallest sf
and validate the shape (opt-in with the scale smoke flag: it costs a
full JVM spin-up)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

pytestmark = pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_SCALE_SMOKE") != "1",
    reason="opt-in (set SPARK_GRAFT_SCALE_SMOKE=1): spawns its own JVM",
)


def test_bench_emits_contract_json():
    env = dict(os.environ, SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, os.path.join(repo, "bench.py")],
        capture_output=True,
        text=True,
        timeout=540,
        env=env,
        cwd=repo,
    )
    assert out.returncode == 0, out.stderr[-1000:]
    # LAST line = the compact summary the driver's tail window records
    # (guaranteed < 1900 chars); the full object precedes it on stdout
    # and lands in BENCH_DETAIL.json. (This assertion block was stale
    # against the two-line protocol until r10 — it expected the full
    # object on the last line, a shape bench.py stopped printing last
    # in r6; being opt-in, nothing caught it.)
    line = out.stdout.strip().splitlines()[-1]
    assert len(line) <= 1900
    payload = json.loads(line)
    assert payload["metric"] == "headline_total_wall_sec"
    assert payload["unit"] == "sec"
    assert payload["sf"] == 0.001
    assert payload["value"] > 0
    assert set(payload["queries"]) == set(
        __import__("bench").HEADLINE
    )
    assert all(v > 0 for v in payload["queries"].values())
    assert payload["duckdb_total_sec"] > 0
    for tier in ("scale", "scale100", "scale1000"):
        assert payload[tier]["value"] > 0
        assert payload[tier]["duckdb_total_sec"] > 0
        assert payload[tier]["ratio"] > 0

    # full object: sidecar file, every tier in long form
    with open("/root/repo/BENCH_DETAIL.json") as f:
        full = json.load(f)
    assert full["metric"] == "headline_total_wall_sec"
    assert full["scale"]["metric"] == "scale_multirowgroup_total_wall_sec"
    assert set(full["scale"]["queries"]) == set(__import__("bench").SCALE_HEADLINE)
    assert all(v > 0 for v in full["scale"]["queries"].values())
    assert full["scale"]["duckdb_total_sec"] > 0
    # lake write-path section (r10): per-verb sec + bytes, COW vs DV
    lake = full["lake"]
    assert lake["metric"] == "scale100_lake_write_path"
    assert "error" not in lake, lake.get("error")
    for verb in (
        "bulk_load",
        "append_10pct",
        "merge_cow_1pct",
        "merge_dv_1pct",
        "delete_cow_1pct",
        "delete_dv_1pct",
        "compact_materialize",
    ):
        assert lake[verb]["sec"] > 0 and lake[verb]["bytes"] > 0, verb
    # the existence claim: DV writes fewer bytes than COW on a trickle
    assert (
        lake["merge_dv_vs_cow_0.1pct"]["bytes_ratio"] < 1.0
    ), lake["merge_dv_vs_cow_0.1pct"]
