"""bench.py output contract: the driver records `python bench.py`'s last
stdout line as BENCH_r{N}.json, so a broken bench silently costs the
round's performance artifact. This smoke runs the real script (scaling
phase disabled, tiny input) and validates the JSON shape."""

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_bench_emits_contract_json():
    env = dict(os.environ,
               CLD2S_SCALING="0",
               CLD2S_BENCH_REPLICATE="2",
               SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
               SPARK_GRAFT_CPUS="4")
    out = subprocess.run([sys.executable, str(REPO / "bench.py")],
                         capture_output=True, text=True, timeout=600,
                         env=env)
    assert out.returncode == 0, out.stderr[-2000:]
    line = out.stdout.strip().splitlines()[-1]
    d = json.loads(line)
    assert d["metric"] == "keep_drop_pipeline_sec"
    assert d["value"] > 0 and d["unit"] == "sec"
    assert d["turns_per_sec"] > 0 and d["n_turns"] > 0
    for q in ("keep_drop_pipeline", "scrub_pii", "quality_flags",
              "conv_rollup", "pricing_summary", "dedup_exact",
              "minhash_pairs", "token_stats", "ann_cosine"):
        assert q in d["queries"] and d["queries"][q] > 0


def test_cpu_rotation_disjoint_blocks():
    """Scaling windows must pin DIFFERENT vCPU blocks across windows so
    per-vCPU hypervisor steal cannot poison every sample of one side."""
    import importlib.util
    spec = importlib.util.spec_from_file_location("bench", REPO / "bench.py")
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    rot4 = [bench._cpu_rotation(4, w, 32) for w in range(5)]
    assert rot4 == ["0-3", "4-7", "8-11", "12-15", "16-19"]
    assert len(set(rot4)) == 5
    rot16 = [bench._cpu_rotation(16, w, 32) for w in range(3)]
    assert rot16 == ["0-15", "16-31", "0-15"]
    # wraparound block stays well-formed
    assert bench._cpu_rotation(12, 2, 32) == "24-31,0-3"


def test_scaling_skipped_when_box_too_small():
    """On a box with fewer vCPUs than the 4N side of the scaling pair, the
    rotation refuses to build an ill-formed CPU list and the scaling block
    carries an explicit skip reason instead of an exception string."""
    import importlib.util

    import pytest
    spec = importlib.util.spec_from_file_location("bench", REPO / "bench.py")
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    with pytest.raises(ValueError):
        bench._cpu_rotation(8, 1, 4)
    assert bench._cpu_rotation(4, 1, 4) == "0-3"
    bench.SCALE_N = 2
    assert "needs 8 vCPUs" in bench.scaling_skip_reason(4)
    assert bench.scaling_skip_reason(8) is None
    assert bench.scaling_skip_reason(32) is None
