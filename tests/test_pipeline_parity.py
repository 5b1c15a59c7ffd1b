"""Spark pipeline vs single-node oracle: the north-rule F1 gate.

The Spark `run_pipeline` output must match the deterministic pandas oracle
(cld2_spark/pipeline/oracle.py) per turn: keep/drop F1 >= 0.99 (we assert
exact agreement -- shared kernels), identical drop reasons, and EXACT
scrubbed-text equality under stable (conv_id, turn_idx) ordering.
"""

import json
from pathlib import Path

import pandas as pd
import pytest

from cld2_spark.pipeline.oracle import oracle_labels
from cld2_spark.pipeline.stages import run_pipeline
from cld2_spark.sources.transcripts import spark_transcripts, synth_transcripts_pandas

N_TURNS = 2000


@pytest.fixture(scope="module")
def outputs(spark):
    pdf = synth_transcripts_pandas(N_TURNS, mega_turns=100)
    want = oracle_labels(pdf)
    df = spark_transcripts(spark, N_TURNS, mega_turns=100, n_partitions=8)
    got = (run_pipeline(df)
           .toPandas()
           .sort_values(["conv_id", "turn_idx"])
           .reset_index(drop=True))
    return want, got


def test_keep_drop_f1(outputs):
    want, got = outputs
    assert len(want) == len(got)
    w = want["keep"].to_numpy()
    g = got["keep"].to_numpy()
    tp = (w & g).sum()
    fp = (~w & g).sum()
    fn = (w & ~g).sum()
    f1 = 2 * tp / max(1, 2 * tp + fp + fn)
    assert f1 >= 0.99, f"keep/drop F1={f1:.4f} (tp={tp} fp={fp} fn={fn})"
    # with shared kernels the match should in fact be exact:
    assert (w == g).all()


def test_drop_reasons_match(outputs):
    want, got = outputs
    w = want["drop_reason"].fillna("keep")
    g = got["drop_reason"].fillna("keep")
    mismatch = (w != g).sum()
    assert mismatch == 0, f"{mismatch} drop_reason mismatches"
    # every reason is exercised by the fixture
    assert set(w.unique()) >= {"keep", "too_short", "langid_unreliable",
                               "low_quality", "toxicity"}


def test_scrubbed_text_exact_equality(outputs):
    want, got = outputs
    assert (want["scrubbed_text"].to_numpy() == got["scrubbed_text"].to_numpy()).all()


def test_scrub_masks_pii(outputs):
    want, _ = outputs
    scrubbed = " ".join(want["scrubbed_text"].tolist())
    assert "jane.doe@example.com" not in scrubbed
    assert "123-45-6789" not in scrubbed
    assert "<EMAIL>" in scrubbed and "<SSN>" in scrubbed and "<PHONE>" in scrubbed


def test_lang_and_pct_match(outputs):
    want, got = outputs
    assert (want["lang1"].to_numpy() == got["lang1"].to_numpy()).all()
    assert (want["pct1"].to_numpy() == got["pct1"].to_numpy()).all()
    assert (want["is_reliable"].to_numpy() == got["is_reliable"].to_numpy()).all()


def test_ordering_invariant(outputs):
    _, got = outputs
    key = pd.MultiIndex.from_frame(got[["conv_id", "turn_idx"]])
    assert key.is_monotonic_increasing
    assert not key.duplicated().any()


def test_short_turn_best_effort_rescue(spark):
    """VERDICT r3 #2: transcript turns <=256 bytes are the reference's
    out-of-design zone; when the default pass refuses or is unreliable,
    the pipeline consults bestEffort and keeps the turn with the right
    language, carrying is_reliable=false (the answer is a guess).

    The third row is the A9 case (boilerplate demotion): its sorted lang1
    is "en" but its CalcSummaryLang answer is "fr", and the pipeline's
    per-turn lang1 must carry the answer on both sides."""
    from cld2_spark.kernels.detect import detect_batch

    gr = "η βιβλιοθήκη της πόλης θα ανοίξει μια νέα πτέρυγα την άνοιξη"
    fr = "le conseil a décidé de restaurer les fontaines du jardin"
    pairs = Path(__file__).parent / "data" / "cld2_unittest_pairs.jsonl"
    a9 = next(p["text"] for p in map(json.loads, pairs.open())
              if p["case_id"] == "fr_en_Latn")
    det = detect_batch([a9])
    assert (det["lang1"][0], det["summary_lang"][0]) == ("en", "fr")
    rows = [("c1", 0, "user", fr, "", None),
            ("c1", 1, "assistant", gr, "", None),
            ("c2", 0, "user", a9, "", None)]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role",
                                      "text", "tool", "ts"])
    want = oracle_labels(pdf)
    assert want["lang1"].tolist() == ["fr", "el", "fr"]
    # the rescued short-fr turn is KEPT; no row drops as langid_unreliable
    # (the Greek row may still drop on perplexity -- a separate filter
    # whose trigram model covers fewer languages)
    assert bool(want["keep"][0]), want[["lang1", "keep", "drop_reason"]]
    assert "langid_unreliable" not in set(want["drop_reason"].dropna())

    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    got = (run_pipeline(df).toPandas()
           .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
    assert got["lang1"].tolist() == ["fr", "el", "fr"]
    assert bool(got["keep"][0])
    assert got["drop_reason"].tolist() == want["drop_reason"].tolist()
    # the short-fr row is a bestEffort guess: is_reliable carried false
    assert not bool(got["is_reliable"][0])


def test_crosscheck_stream_reuse():
    """analyze_batch hands the detector's cached stream to the
    cross-check when the script sets coincide; results must be
    IDENTICAL to the uncached path on Latin, mixed-script and
    CJK-bearing batches (the latter two must fall back internally)."""
    import numpy as np

    from cld2_spark.kernels import text as T
    from cld2_spark.kernels.crosscheck import crosscheck_batch
    from cld2_spark.kernels.detect import detect_batch
    from cld2_spark.kernels.model import default_model

    m = default_model()
    batches = [
        ["hello world this is plain english text", "bonjour le monde entier"],
        ["hello world", "Ελληνικά κείμενο εδώ", "привет мир как дела"],
        ["hello world", "これは日本語のテキストです", "mixed 中文 and english"],
    ]
    for texts in batches:
        nb = T.normalize_batch(texts)
        cache: dict = {}
        detect_batch(texts, m, nb=nb, _export_cache=cache)
        base = crosscheck_batch(texts, m, nb=nb)
        reused = crosscheck_batch(texts, m, nb=nb, stream_cache=cache or None)
        assert list(base["ft_lang"]) == list(reused["ft_lang"])
        assert np.allclose(base["ppl"], reused["ppl"])
        assert (base["n_grams"] == reused["n_grams"]).all()


# Rule edge cases: whitespace variants (trim strips only ' ', Java's \s
# includes \x0b), supplementary-plane code points, non-ASCII letters,
# digit/symbol-only rows, toxic words at string end, the Kelvin sign
# (U+212A, which Java's lower() maps to 'k') and a row just over MAX_CHARS
# that only the n_chars rule drops.
EDGE_TEXTS = [
    None, "", " ", "\t", "\tfoo bar\t", "a\x0bb\x0cc\rd\ne",
    "ok 😀 wörld 🦆🦆 \U0001F600x", "ÀÉÎ abc", "1234567890", "@@@",
    "FRAKKING", "belgium++ x", "fra\u212aking",
    "mail jo.doe@example.com, 123-45-6789, 10.0.0.1 or 4111 1111 1111 1111",
    "word " * 20_000 + "x",
]


def test_spark_rule_forms_match_both_oracles_on_edge_strings(spark):
    """The Spark rule forms (the helper-column features, flags, guarded
    toxicity and scrub chain `run_pipeline` uses) against the pandas
    oracle and DuckDB's oracle SQL, row by row."""
    import duckdb

    from cld2_spark.kernels import quality as Q
    from cld2_spark.kernels import scrub as S
    from cld2_spark.pipeline.stages import with_quality, with_scrub

    spark_feats = Q.features_sql("text", "spark")
    feats = list(spark_feats)
    flags = ["too_short", "low_quality", "toxic", "scrubbed_text"]
    df = spark.createDataFrame(list(enumerate(EDGE_TEXTS)), "id int, text string")
    df = df.selectExpr("*", *(f"{v} AS {k}" for k, v in spark_feats.items()))
    got = (with_scrub(with_quality(df)).select("id", *feats, *flags)
           .toPandas().sort_values("id").reset_index(drop=True))
    assert got["low_quality"].tolist()[-1] and len(EDGE_TEXTS[-1]) == Q.MAX_CHARS + 1

    s = pd.Series(EDGE_TEXTS, dtype=object)
    want = pd.DataFrame({**Q.features_pandas(s),
                         "too_short": Q.too_short_pandas(s),
                         "low_quality": Q.low_quality_pandas(s),
                         "toxic": S.toxicity_mask_pandas(s),
                         "scrubbed_text": S.scrub_pandas(s)})
    # NULL text: Spark and DuckDB propagate NULL; the pandas oracle reads
    # it as "" (the pipeline's UDF does the same for langid)
    assert got.iloc[0][feats + flags].isna().all()
    for col in feats + flags:
        assert got[col][1:].tolist() == want[col][1:].tolist(), col

    tbl = pd.DataFrame({"id": range(len(EDGE_TEXTS)), "text": s})
    sel = ", ".join(f"{v} AS {k}" for k, v in Q.features_sql("text", "duckdb").items())
    duck = duckdb.sql(
        f"SELECT {sel}, {Q.too_short_sql('text', 'duckdb')} AS too_short, "
        f"{Q.low_quality_sql('text', 'duckdb')} AS low_quality, "
        f"{S.toxicity_sql('text', 'duckdb')} AS toxic, "
        f"{S.scrub_sql('text', 'duckdb')} AS scrubbed_text "
        f"FROM tbl ORDER BY id").df()
    # known divergences of the DuckDB oracle (PARITY.md): RE2's \s lacks
    # \x0b, and RE2's (?i) folds the Kelvin sign to 'k'
    vt = EDGE_TEXTS.index("a\x0bb\x0cc\rd\ne")
    kelvin = EDGE_TEXTS.index("fra\u212aking")
    assert (got["n_words"][vt], duck["n_words"][vt]) == (5, 4)
    assert (got["toxic"][kelvin], duck["toxic"][kelvin]) == (False, True)
    duck.loc[vt, "n_words"] = 5
    duck.loc[kelvin, "toxic"] = False
    for col in feats + flags:
        assert (got[col].astype(object).where(got[col].notna(), None).tolist()
                == duck[col].astype(object).where(duck[col].notna(), None).tolist()), col
