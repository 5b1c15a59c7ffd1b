"""--py-files deployment: the package must work when zipimported.

The north rule's deployment mode is `spark-submit --py-files
cld2_spark.zip`; executors then import the package from inside the
archive, where `__file__`-relative model paths do not exist on disk. This
test zips the package, imports it from the zip in a clean subprocess, and
runs the pure-NumPy langid kernel end-to-end (no Spark needed -- the
executor-side failure mode is exactly the model load + detect path).
"""

import subprocess
import sys
import zipfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

PROBE = r"""
import sys
zip_path, = sys.argv[1:]
sys.path.insert(0, zip_path)  # how --py-files exposes the archive
import cld2_spark  # noqa: F401
assert zip_path in cld2_spark.__file__, cld2_spark.__file__
from cld2_spark.kernels.detect import detect_batch
res = detect_batch([
    "Confidence in the sea has long been the strength of the people, and "
    "the language of the government reflects the same confidence in trade, "
    "learning and the steady work of many hands across the country.",
    "Das Vertrauen in die See ist seit langem die Staerke der Menschen, "
    "und die Sprache der Regierung spiegelt dasselbe Vertrauen in Handel, "
    "Bildung und die Arbeit vieler Haende im ganzen Land."])
assert list(res["summary_lang"][:2]) == ["en", "de"], res["summary_lang"]
# the other packaged data files: the entity table (html mode) and the
# synthetic-transcript corpus must also load through the import system
res2 = detect_batch([
    "<p>Das Vertrauen in die See ist seit langem die Staerke der "
    "Menschen, und die Sprache der Regierung spiegelt dasselbe Vertrauen "
    "in Handel, Bildung und die Arbeit vieler Haende im ganzen Land "
    "&amp; dar&uuml;ber hinaus.</p>"], is_plain_text=False)
assert res2["summary_lang"][0] == "de", res2["summary_lang"]
from cld2_spark.sources.transcripts import turn_text
assert len(turn_text(7)) > 0
print("ZIP_DEPLOY_OK")
"""


def test_package_runs_from_py_files_zip(tmp_path):
    zip_path = tmp_path / "cld2_spark.zip"
    pkg = REPO / "cld2_spark"
    with zipfile.ZipFile(zip_path, "w") as zf:
        for f in sorted(pkg.rglob("*")):
            if f.is_file() and "__pycache__" not in f.parts:
                zf.write(f, f.relative_to(REPO))
    probe = tmp_path / "probe.py"
    probe.write_text(PROBE)
    out = subprocess.run([sys.executable, str(probe), str(zip_path)],
                         capture_output=True, text=True, timeout=300,
                         cwd=str(tmp_path))  # cwd outside the repo: no
    # accidental fallback to the checkout's package
    assert out.returncode == 0, out.stderr[-2000:]
    assert "ZIP_DEPLOY_OK" in out.stdout


RELOAD_PROBE = r"""
import importlib, os, sys, zipfile, zipimport
repo, zip_path = sys.argv[1:]
sys.path.insert(0, repo)
from cld2_spark.functions.langid import _stat_checked_zip_reload

def write(names):
    with zipfile.ZipFile(zip_path, "w") as zf:
        for name in names:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")

write(["m1"])
sys.path.insert(0, zip_path)
import m1
reads = []
orig = zipimport._read_directory
zipimport._read_directory = lambda path: reads.append(path) or orig(path)
_stat_checked_zip_reload()
_stat_checked_zip_reload()  # a second install is a no-op
importlib.invalidate_caches()
assert reads == [zip_path], reads  # the first call re-reads, as before
importlib.invalidate_caches()
importlib.invalidate_caches()
assert reads == [zip_path], reads  # unchanged archive: not re-read
st = os.stat(zip_path)
write(["m1", "m2"])
os.utime(zip_path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
importlib.invalidate_caches()
assert reads == [zip_path] * 2, reads
import m2
assert m2.NAME == "m2"
print("ZIP_RELOAD_OK")
"""


def test_zip_reload_is_stat_checked(tmp_path):
    """Every PySpark task calls importlib.invalidate_caches(); the langid
    UDF's stat-checked reload re-reads a zip archive's directory only
    when the archive changed, so a module added to a rewritten zip still
    imports and an unchanged one is not re-read."""
    import pytest
    if sys.version_info >= (3, 13):
        pytest.skip("3.13's zipimporter drops the cached directory instead")
    probe = tmp_path / "probe.py"
    probe.write_text(RELOAD_PROBE)
    out = subprocess.run([sys.executable, str(probe), str(REPO),
                          str(tmp_path / "mods.zip")],
                         capture_output=True, text=True, timeout=300,
                         cwd=str(tmp_path))
    assert out.returncode == 0, out.stderr[-2000:]
    assert "ZIP_RELOAD_OK" in out.stdout
