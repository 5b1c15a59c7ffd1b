"""bestEffort / scoreAsQuads flag semantics (public/compact_lang_det.h:
342-376) and the J2 dual-table backoff consulted under bestEffort.

Reference behavior replicated:
  - bestEffort skips RemoveUnreliableLanguages
    (internal/compact_lang_det_impl.cc:1998-2000) and the
    percent-below-threshold -> UNKNOWN gate in CalcSummaryLang (:1493),
    so short / low-confidence rows return the best guess instead of `un`.
  - scoreAsQuads forces RTypeOne scripts through the quadgram path
    (ScoreOneScriptSpan rtype override, internal/scoreonescriptspan.cc:
    1318-1320).
"""

import json
from pathlib import Path

import pytest

from cld2_spark.kernels.detect import detect_batch

DATA = Path(__file__).parent / "data"


def _case_text(case_id: str) -> str:
    for line in (DATA / "cld2_unittest_pairs.jsonl").open():
        p = json.loads(line)
        if p["case_id"] == case_id:
            return p["text"]
    raise AssertionError(f"no eval case {case_id}")


def test_best_effort_short_fragment_answers():
    """Held-out fragments that the default path refuses (`un`) get their
    best guess under bestEffort (the reference's short-text flag)."""
    az = _case_text("az_Latn")
    iw = _case_text("iw_Hebr")
    frags = [az[len(az) // 2:], iw[len(iw) // 2:]]
    default = detect_batch(frags)
    best = detect_batch(frags, best_effort=True)
    assert default["lang1"][0] == "un" and default["lang1"][1] == "un"
    assert best["lang1"][0] == "az"
    assert best["lang1"][1] == "iw"
    # bestEffort answers on refused rows are still flagged unreliable
    assert not best["is_reliable"][0]


def test_best_effort_does_not_change_confident_rows():
    texts = [_case_text("en_Latn"), _case_text("de_Latn"), _case_text("ja_Hani")]
    a = detect_batch(texts)
    b = detect_batch(texts, best_effort=True)
    assert list(a["lang1"]) == list(b["lang1"])
    assert list(a["pct1"]) == list(b["pct1"])


def test_best_effort_empty_rows_stay_unknown():
    res = detect_batch(["", "   ", "12345 !!!"], best_effort=True)
    assert (res["lang1"] == "un").all()


def test_score_as_quads_rtype_one_script():
    """Greek is RTypeOne (script implies el); scoreAsQuads scores it through
    the trained quad table and still lands on el."""
    el = _case_text("el_Grek")
    half = el[:len(el) // 2]
    a = detect_batch([half])
    b = detect_batch([half], score_as_quads=True)
    assert a["lang1"][0] == "el"
    assert b["lang1"][0] == "el"
    # A4 byte scoring is bypassed: the quad path carries a real (non-A4)
    # score, so the onebytes-driven normalized score differs from 0
    assert b["pct1"][0] >= 90


def test_score_as_quads_leaves_cjk_alone():
    ja = _case_text("ja_Hani")
    a = detect_batch([ja])
    b = detect_batch([ja], score_as_quads=True)
    assert a["lang1"][0] == b["lang1"][0] == "ja"


@pytest.mark.parametrize("flag", ["best_effort", "score_as_quads"])
def test_flagged_udf_runs(spark, flag):
    from pyspark.sql import functions as F
    from cld2_spark.functions.langid import make_detect_summary_udf
    udf = make_detect_summary_udf(**{flag: True})
    df = spark.createDataFrame([(_case_text("en_Latn"),)], ["text"])
    out = df.select(udf(F.col("text")).alias("ld")).select("ld.lang1").collect()
    assert out[0][0] == "en"


def test_langid_udfs_are_module_level_scalar_iter():
    """Every public langid UDF is a module attribute of functions.langid
    and a SCALAR_ITER pandas UDF: the iterator form is what loads the
    model once per Python worker, and the benchmark's set-up reset finds
    the UDFs by scanning the module's attributes."""
    from pyspark.util import PythonEvalType

    import cld2_spark.functions.langid as L

    udfs = {name: obj for name, obj in vars(L).items()
            if not name.startswith("_") and hasattr(obj, "evalType")}
    assert set(udfs) == {"detect_udf", "detect_summary_udf",
                         "detect_spans_udf", "pipeline_udf"}
    udfs["make_detect_summary_udf"] = L.make_detect_summary_udf(best_effort=True)
    for name, udf in udfs.items():
        assert udf.evalType == PythonEvalType.SQL_SCALAR_PANDAS_ITER_UDF, name
        assert hasattr(udf, "_unwrapped"), name
