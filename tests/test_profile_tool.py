"""tools/profile.py end to end: one query through a fresh session prints one
JSON line with the build/plan/exec split, the query's stages from the
status store, the plan digest and the substrate diff."""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_profile_prints_one_line_per_query(sf_dir):
    script = os.path.join(ROOT, "tools", "profile.py")
    env = {**os.environ, "SPARK_GRAFT_LADDER_NO_COUNT": "1", "SPARK_GRAFT_CPUS": "2"}
    proc = subprocess.run(
        [sys.executable, script, sf_dir, "1", "sink_json_map"],
        capture_output=True, text=True, env=env, timeout=600, cwd=ROOT,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [json.loads(l) for l in proc.stdout.splitlines() if l.startswith("{")]
    assert len(lines) == 1
    (out,) = lines
    assert out["query"] == "sink_json_map"
    assert all(out[k] >= 0 for k in ("build_s", "plan_s", "exec_s"))
    assert out["stages"]
    assert set(out["stages"][0]) >= {
        "stage", "run_ms", "shuffle_read", "shuffle_write", "spill_mem", "spill_disk",
    }
    assert set(out["plan"]) >= {
        "Exchange", "SortMergeJoin", "Window", "BatchEvalPython", "ArrowEvalPython",
        "MapInPandas", "MapInArrow", "InMemoryTableScan", "lines",
    }
    assert out["plan"]["lines"] > 1
    assert out["substrates"] == {}  # sink_json_map reads no shared substrate
    assert "n_rows" not in out  # SPARK_GRAFT_LADDER_NO_COUNT skips the re-run
