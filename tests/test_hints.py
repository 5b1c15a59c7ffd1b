"""J8 hint semantics: hints bias, never force (public/compact_lang_det.h:133-138).

A hint toward a statistically-close sibling (hr <-> bs) redirects the
verdict via the close-set whack (AddCloseLangWhack), because close pairs
share most quadgram evidence; a hint toward an unrelated language must not
flip clear text.
"""

import json
from pathlib import Path

from cld2_spark.kernels.detect import detect_batch

DATA = Path(__file__).parent / "data"

CLEAR_EN = ("government officials said on wednesday that the new public "
            "library would open to all members of the community next year "
            "after several months of construction and planning work")


def _corpus_text(case_id: str) -> str:
    for line in (DATA / "cld2_unittest_pairs.jsonl").open():
        p = json.loads(line)
        if p["case_id"] == case_id:
            return p["text"]
    raise KeyError(case_id)


def test_hint_redirects_within_close_set():
    hr = _corpus_text("hr_Latn")
    assert detect_batch([hr])["lang1"][0] == "hr"
    assert detect_batch([hr], hints=[{"lang": "bs"}])["lang1"][0] == "bs"
    assert detect_batch([hr], hints=[{"lang": "hr"}])["lang1"][0] == "hr"
    bs = _corpus_text("bs_Latn")
    assert detect_batch([bs], hints=[{"lang": "hr"}])["lang1"][0] == "hr"


def test_hint_never_forces_clear_text():
    res = detect_batch([CLEAR_EN], hints=[{"lang": "fr"}])
    assert res["lang1"][0] == "en"


def test_unknown_hint_code_is_ignored():
    a = detect_batch([CLEAR_EN], hints=[{"lang": "zz-bogus"}])
    b = detect_batch([CLEAR_EN])
    assert a["lang1"][0] == b["lang1"][0]
    assert a["pct1"][0] == b["pct1"][0]


def test_multi_hint_priors_and_trim():
    """K3/J8: up to 4 priors merged from all hint sources, trimmed by
    weight; duplicate-language hints gain +2 (MergeCLDLangPriorsBoost)."""
    from cld2_spark.kernels.detect import resolve_hints
    from cld2_spark.kernels.model import default_model
    m = default_model()
    ids, ws = resolve_hints(m, [{
        "lang": "fr",                      # weight 8
        "content_language": "de,es,it",    # three tag priors (W10 each)
        "tld": "pt",                       # pt-TLD prior
    }])
    got = {m.langs[g]: int(w) for g, w in zip(ids[0], ws[0]) if g >= 0}
    assert len(got) == 4                   # trimmed to 4 largest
    assert set(got) <= {"fr", "de", "es", "it", "pt"}
    assert "de" in got and got["de"] >= 10  # tag weights survive the trim
    # duplicate language across sources merges with +2
    ids2, ws2 = resolve_hints(m, [{"lang": "de", "content_language": "de"}])
    de = m.lang_id["de"]
    w_dup = int(ws2[0][list(ids2[0]).index(de)])
    ids3, ws3 = resolve_hints(m, [{"lang": "de"}])
    w_single = int(ws3[0][list(ids3[0]).index(de)])
    assert w_dup == min(w_single + 2, 12)


def test_tld_and_encoding_hints():
    from cld2_spark.kernels.detect import resolve_hints
    from cld2_spark.kernels.model import default_model
    m = default_model()
    ids, ws = resolve_hints(m, [{"tld": "jp"}, {"encoding": "euc-kr"},
                                {"tld": "toolong"}, None])
    assert m.langs[ids[0][0]] == "ja"      # kCLDTLDHintTable
    assert m.langs[ids[1][0]] == "ko" and ws[1][0] == 4
    assert (ids[2] == -1).all()            # >3 chars ignored
    assert (ids[3] == -1).all()


def test_two_hint_interaction_redirects():
    """A content-language tag hint behaves like a language hint within a
    close set, and two agreeing hints don't overshoot clear text."""
    hr = _corpus_text("hr_Latn")
    from cld2_spark.kernels.detect import detect_batch
    r = detect_batch([hr], hints=[{"content_language": "bs"}])
    assert r["lang1"][0] == "bs"
    r2 = detect_batch([CLEAR_EN], hints=[{"lang": "fr", "tld": "fr"}])
    assert r2["lang1"][0] == "en"          # bias, never force


def test_ext_hint_udf(spark):
    from pyspark.sql import functions as F
    from cld2_spark.functions.langid import detect_summary_udf
    hr = _corpus_text("hr_Latn")
    df = spark.createDataFrame(
        [(hr, None, "bs", None, None), (CLEAR_EN, None, None, "fr", None),
         (CLEAR_EN, None, None, None, None)],
        "text string, lh string, cl string, tld string, enc string")
    out = (df.withColumn("ld", detect_summary_udf(
        F.col("text"), F.col("lh"), F.col("cl"), F.col("tld"), F.col("enc")))
        .select(F.col("ld.lang1").alias("lang1")).toPandas())
    assert out.lang1.tolist() == ["bs", "en", "en"]


def test_hint_udf_roundtrip(spark):
    from pyspark.sql import functions as F
    from cld2_spark.functions.langid import detect_summary_udf
    hr = _corpus_text("hr_Latn")
    df = spark.createDataFrame([(hr, "bs"), (CLEAR_EN, "fr"), (CLEAR_EN, None)],
                               "text string, hint string")
    out = (df.withColumn("ld", detect_summary_udf(F.col("text"), F.col("hint")))
           .select(F.col("ld.lang1").alias("lang1")).toPandas())
    assert out.lang1.tolist() == ["bs", "en", "en"]
