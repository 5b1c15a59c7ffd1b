"""The media fixtures are the same under every OpenBLAS kernel.

NumPy's OpenBLAS picks its compute kernel once, when the library loads,
from the CPU or from `OPENBLAS_CORETYPE`. A codec whose transform went
through a BLAS matmul would give different pixels under an FMA kernel
(Haswell, SkylakeX) than under the generic one (Prescott). So each kernel
runs in its own subprocess, recomputes the JPEG, color-JPEG and
MJPEG-video fixtures through tools/freeze_expected.py's builders, and
compares them with the frozen parquet.

A kernel is skipped, never passed, when the CPU lacks its instructions
(forcing it would crash with SIGILL) or when OpenBLAS does not report the
forced core (a build without DYNAMIC_ARCH ignores the variable).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
SF_DIR = "/root/testdata/sf0.01"

# kernel -> the /proc/cpuinfo flags it needs
KERNELS = {"Prescott": (), "Haswell": ("avx2", "fma"),
           "SkylakeX": ("avx512f",)}

PROBE = r"""
import ctypes, json, sys
sys.path.insert(0, sys.argv[1])
import numpy  # noqa: F401  (loads OpenBLAS, which reads OPENBLAS_CORETYPE)
import pyarrow.parquet as pq
from tools import freeze_expected as F


def corename():
    with open("/proc/self/maps") as maps:
        paths = [ln.split()[-1] for ln in maps if "openblas" in ln.lower()]
    for path in paths[:1]:
        lib = ctypes.CDLL(path)
        for sym in ("openblas_get_corename64_", "openblas_get_corename"):
            fn = getattr(lib, sym, None)
            if fn is not None:
                fn.argtypes, fn.restype = [], ctypes.c_char_p
                return fn().decode()
    return None


diff = {}
for name, build in ((F.JPEG_FEATURES_FILE, F._jpeg_features_fixture),
                    (F.JPEG_COLOR_FILE, F._jpeg_color_fixture),
                    (F.VIDEO_FEATURES_FILE, F._video_features_fixture)):
    fresh = build(sys.argv[2]).to_pandas()
    frozen = pq.read_table(f"{sys.argv[1]}/tests/data/{name}").to_pandas()
    diff[name] = (int((fresh != frozen).any(axis=1).sum())
                  if fresh.shape == frozen.shape else -1)
print(json.dumps({"core": corename(), "diff_rows": diff}))
"""


def _cpu_flags() -> set[str]:
    try:
        text = Path("/proc/cpuinfo").read_text()
    except OSError:
        return set()
    for line in text.splitlines():
        if line.startswith("flags"):
            return set(line.split(":", 1)[1].split())
    return set()


@pytest.mark.parametrize("kernel", list(KERNELS))
def test_media_fixtures_match_under_kernel(kernel):
    if not Path(SF_DIR).exists():
        pytest.skip("sf0.01 testdata not present")
    missing = set(KERNELS[kernel]) - _cpu_flags()
    if missing:
        pytest.skip(f"CPU lacks {sorted(missing)} for {kernel}")
    out = subprocess.run(
        [sys.executable, "-c", PROBE, str(REPO), SF_DIR],
        capture_output=True, text=True, timeout=600,
        env={**os.environ, "OPENBLAS_CORETYPE": kernel})
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    if (got["core"] or "").lower() != kernel.lower():
        pytest.skip(f"OpenBLAS reports core {got['core']!r}, not {kernel}")
    assert got["diff_rows"] == {k: 0 for k in got["diff_rows"]}, got
