"""bench.py's one-line JSON contract: a small run of the production
``Crawler`` cycle in a cold subprocess, timed per cycle."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_times_the_production_cycle(tmp_path):
    env = dict(
        os.environ,
        NUTCH_BENCH_DOCS="2000",
        NUTCH_BENCH_TOPN="500",
        NUTCH_BENCH_CYCLES="2",
        NUTCH_BENCH_SKIP_EXTRAS="1",
        SPARK_GRAFT_CPUS="2",
        NUTCH_SPARK_DRIVER_MEM="2g",
        # the Python UDF workers import nutch_spark too
        PYTHONPATH=os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")])),
    )
    env.pop("NUTCH_SPARK_MASTER", None)
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    assert len(lines) == 1, r.stdout
    out = json.loads(lines[0])

    q = out["queries"]
    assert {"inject", "c1", "c2"} <= q.keys()
    # one wall time per cycle: no hand-built per-stage split
    assert not [
        k for k in q
        if k.endswith(("_generate", "_fetch", "_parse", "_updatedb"))
    ]
    # the headline is the best warm cycle, and with two cycles only c2 is warm
    assert out["value"] == q["c2"]
    assert 0 < out["generated"] <= 500
    assert out["fetched"] <= out["generated"]
