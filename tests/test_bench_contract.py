"""bench.py is a driver-facing contract: it must print exactly one JSON
line with the agreed keys. Run at the tiny sf with replication 1 and one
timed sample per key so the guard stays cheap."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_emits_one_json_line_with_contract_keys():
    import tempfile

    out_file = os.path.join(tempfile.mkdtemp(prefix="odb_bench_"), "r.json")
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="4",
        SPARK_GRAFT_BENCH_REP="1",
        # one timed sample per key: the contract is the output shape,
        # not the timings
        SPARK_GRAFT_BENCH_RUNS="1",
        # keep the repo-root fallback artifact out of test runs
        SPARK_GRAFT_BENCH_OUT=out_file,
    )
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
        check=True,
    )
    json_lines = [
        ln for ln in out.stdout.splitlines() if ln.startswith('{"metric"')
    ]
    assert len(json_lines) == 1, out.stdout[-2000:]
    # the LAST stdout line is the result (what the driver parses); it is
    # a COMPACT summary that must fit in the driver's ~2000-char tail
    # capture (round-4 finding: the full 50-query map truncated
    # mid-object -> parsed=null), while the result file carries the full
    # per-query map + dispersion
    assert out.stdout.splitlines()[-1] == json_lines[0]
    assert len(json_lines[0]) < 1800, len(json_lines[0])
    d = json.loads(json_lines[0])
    for key in ("metric", "value", "unit", "queries", "sf", "docs_per_sec",
                "bench_docs", "replication", "cpus", "n_queries", "result_file"):
        assert key in d, key
    assert d["unit"] == "sec" and d["value"] > 0
    assert d["queries"]["flagship_extract"] == d["value"]
    assert all(v >= 0 for v in d["queries"].values())
    with open(out_file) as fh:
        full = json.load(fh)
    assert full["value"] == d["value"]
    assert set(d["queries"]) <= set(full["queries"])
    assert d["n_queries"] == len(full["queries"]) > 5
    assert set(full["queries_mad"]) == set(full["queries"])
