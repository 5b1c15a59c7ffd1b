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


def test_empty_input_runs_through_pipeline(spark):
    """A 0-row input gives a 0-row verdict table (no kernel call, no
    slice) on Spark and in the oracle alike."""
    df = spark.createDataFrame(
        [], "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp")
    out = run_pipeline(df)
    assert out.columns == list(oracle_labels(df.toPandas()).columns)
    assert out.collect() == []


def test_crosscheck_stream_reuse():
    """GramStream.letters, the letter stream the cross-check and the
    squeeze trigger read, must equal a fresh letter_stream over the
    stream's present scripts plus its UTF-8 buffer, for a built stream
    (all-Latin ones reuse their own arrays) and for a row selection, on
    Latin, mixed-script and CJK-bearing batches."""
    import numpy as np

    from cld2_spark.kernels import text as T
    from cld2_spark.kernels.detect import GramStream
    from cld2_spark.kernels.model import default_model

    m = default_model()
    batches = [
        ["hello world this is plain english text", "bonjour le monde entier"],
        ["hello world", "Ελληνικά κείμενο εδώ", "привет мир как дела"],
        ["hello world", "これは日本語のテキストです", "mixed 中文 and english"],
    ]
    reused = []
    for texts in batches:
        built = GramStream.build(T.normalize_batch(texts), m)
        for stream in (built, built.select(np.array([1]))):
            arr, rid_s, buf = stream.letters
            want, want_rid, _, _ = T.letter_stream(stream.nb, stream.present)
            np.testing.assert_array_equal(arr, want)
            np.testing.assert_array_equal(rid_s, want_rid)
            np.testing.assert_array_equal(buf, T.encode_utf8(want))
            reused.append(arr is stream.arr)
    # the one shortcut: only the all-Latin built stream is its own
    assert reused == [True, False, False, False, False, False]


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
    """The standalone Spark SQL rule forms (the helper-column features and
    flags of the `quality_flags` query, the substring-guarded toxicity
    check and the `rlike`/`instr`-guarded scrub chain) against the pandas
    oracle and DuckDB's oracle SQL, row by row."""
    import duckdb
    from pyspark.sql import functions as F

    from cld2_spark.kernels import quality as Q
    from cld2_spark.kernels import scrub as S
    from cld2_spark.pipeline.stages import with_quality

    spark_feats = Q.features_sql("text", "spark")
    feats = list(spark_feats)
    flags = ["too_short", "low_quality", "toxic", "scrubbed_text"]
    df = spark.createDataFrame(list(enumerate(EDGE_TEXTS)), "id int, text string")
    df = df.selectExpr("*", *(f"{v} AS {k}" for k, v in spark_feats.items()))
    df = with_quality(df).withColumn("toxic", F.expr(S.toxicity_sql("text", "spark")))
    got = (S.scrub_spark_columns(df, "text", "scrubbed_text")
           .select("id", *feats, *flags)
           .toPandas().sort_values("id").reset_index(drop=True))
    assert got["low_quality"].tolist()[-1] and len(EDGE_TEXTS[-1]) == Q.MAX_CHARS + 1

    s = pd.Series(EDGE_TEXTS, dtype=object)
    f = Q.features_pandas(s)
    want = pd.DataFrame({**f, **Q.flags(f),
                         "toxic": S.toxicity_mask_pandas(s),
                         "scrubbed_text": S.scrub_pandas(s)})
    # NULL text: Spark and DuckDB propagate NULL; the pandas rule forms
    # read it as "" (the pipeline's UDF does the same), and the pandas
    # scrub keeps it NULL
    assert got.iloc[0][feats + flags].isna().all()
    assert want["scrubbed_text"][0] is None
    for col in feats + flags:
        assert got[col][1:].tolist() == want[col][1:].tolist(), col

    tbl = pd.DataFrame({"id": range(len(EDGE_TEXTS)), "text": s})
    sel = ", ".join(f"{v} AS {k}" for k, v in Q.features_sql("text", "duckdb").items())
    duck = duckdb.sql(
        f"SELECT {sel}, {Q.too_short_sql('text', 'duckdb')} AS too_short, "
        f"{Q.low_quality_sql('text', 'duckdb')} AS low_quality, "
        f"{S.toxicity_sql('text', 'duckdb')} AS toxic, "
        f"{S.scrub_sql('text')} AS scrubbed_text "
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


# A row past the kernel's TEXT_LIMIT cut whose email, SSN and toxic word
# all lie beyond the cut: the kernel forces every guard on such a row, so
# the regexes above the UDF still see them.
LONG_TEXT = "word " * 33_000 + "mail jo.doe@example.com 123-45-6789 frakking"


def test_pipeline_rule_path_matches_both_oracles_on_edge_strings(spark):
    """The rule path `run_pipeline` takes (the kernel's codepoint pass,
    then the guarded regexes above the UDF) against the pandas oracle and
    DuckDB's oracle SQL on the edge strings and a row longer than
    TEXT_LIMIT: the kernel's features and flags row by row, the guarded
    `toxic` and `scrubbed_text`, and `run_pipeline`'s verdicts against
    `oracle_labels`."""
    import duckdb
    import numpy as np

    from cld2_spark.kernels import analyze as A
    from cld2_spark.kernels import quality as Q
    from cld2_spark.kernels import scrub as S
    from cld2_spark.kernels import text as T
    from cld2_spark.pipeline.stages import LD, with_langid, with_scrub

    texts = EDGE_TEXTS + [LONG_TEXT]
    assert len(LONG_TEXT) > T.TEXT_LIMIT
    assert LONG_TEXT.index("@") > T.TEXT_LIMIT
    filled = [t or "" for t in texts]
    n_chars = np.array([len(t) for t in filled])
    kernel = A.features(T.normalize_batch(filled), n_chars)
    feats = list(Q.features_sql("text", "spark"))

    df = spark.createDataFrame(list(enumerate(texts)), "id int, text string")
    got = (with_scrub(with_langid(df))
           .select("id", f"{LD}.too_short", f"{LD}.low_quality", "toxic",
                   "scrubbed_text")
           .toPandas().sort_values("id").reset_index(drop=True))
    for k in feats:
        got[k] = kernel[k]
    flags = ["too_short", "low_quality", "toxic", "scrubbed_text"]

    s = pd.Series(texts, dtype=object)
    f = Q.features_pandas(s)
    want = pd.DataFrame({**f, **Q.flags(f),
                         "toxic": S.toxicity_mask_pandas(s),
                         "scrubbed_text": S.scrub_pandas(s)})
    # NULL text is "" to the rules: too_short, NULL toxic, NULL scrubbed
    assert got["too_short"][0] and got["toxic"].isna()[0]
    want["toxic"] = want["toxic"].astype(object)
    want.loc[0, "toxic"] = None
    # the long row: only n_chars is exact past the cut; the rest is
    # checked through the flags, which n_chars decides there
    long_row = len(texts) - 1
    for k in feats[1:]:
        want.loc[long_row, k] = got[k][long_row]
    assert (got["toxic"][long_row], got["low_quality"][long_row]) == (True, True)
    assert "<EMAIL> <SSN> frakking" in got["scrubbed_text"][long_row]
    for col in feats + flags:
        assert got[col].tolist() == want[col].tolist(), col

    tbl = pd.DataFrame({"id": range(len(texts)), "text": s})
    sel = ", ".join(f"{v} AS {k}" for k, v in Q.features_sql("text", "duckdb").items())
    duck = duckdb.sql(
        f"SELECT {sel}, {Q.too_short_sql('text', 'duckdb')} AS too_short, "
        f"{Q.low_quality_sql('text', 'duckdb')} AS low_quality, "
        f"{S.toxicity_sql('text', 'duckdb')} AS toxic, "
        f"{S.scrub_sql('text')} AS scrubbed_text "
        f"FROM tbl ORDER BY id").df()
    # DuckDB reads NULL as NULL throughout; the pipeline's flags read ""
    duck.loc[0, feats + ["too_short", "low_quality"]] = [0] * 5 + [True, False]
    duck.loc[long_row, feats[1:]] = got.loc[long_row, feats[1:]].tolist()
    # the two pinned divergences of the DuckDB oracle (PARITY.md): RE2's
    # \s lacks \x0b, and RE2's (?i) folds the Kelvin sign to 'k'
    vt = texts.index("a\x0bb\x0cc\rd\ne")
    kelvin = texts.index("fra\u212aking")
    assert (got["n_words"][vt], duck["n_words"][vt]) == (5, 4)
    assert (got["toxic"][kelvin], duck["toxic"][kelvin]) == (False, True)
    duck.loc[vt, "n_words"] = 5
    duck.loc[kelvin, "toxic"] = False
    for col in feats + flags:
        assert (got[col].astype(object).where(got[col].notna(), None).tolist()
                == duck[col].astype(object).where(duck[col].notna(), None).tolist()), col

    rows = [("c", i, t) for i, t in enumerate(texts)]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "text"])
    verdicts = (run_pipeline(spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string"))
        .toPandas().sort_values("turn_idx").reset_index(drop=True))
    labels = oracle_labels(pdf)
    for col in ("keep", "drop_reason", "scrubbed_text"):
        assert verdicts[col].tolist() == labels[col].tolist(), col


def test_null_text_is_too_short_with_null_scrub(spark):
    """One rule for NULL text on both sides: `run_pipeline` and
    `oracle_labels` drop it as too_short and leave scrubbed_text NULL,
    while "" stays "" on both."""
    rows = [("c", 0, None), ("c", 1, ""),
            ("c", 2, "The library will open a new wing in the spring.")]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "text"])
    want = oracle_labels(pdf)
    got = (run_pipeline(spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string"))
        .toPandas().sort_values("turn_idx").reset_index(drop=True))
    for side in (want, got):
        assert side["drop_reason"].tolist()[:2] == ["too_short", "too_short"]
        assert side["scrubbed_text"].tolist()[:2] == [None, ""]
    for col in ("keep", "drop_reason", "scrubbed_text", "lang1"):
        assert got[col].tolist() == want[col].tolist(), col


def test_kernel_rule_pass_matches_pandas_forms():
    """`analyze.rule_pass` against the pandas rule forms on seeded random
    strings over the characters the rules branch on (each whitespace
    kind, '@', digits, symbols, non-ASCII letters and lexicon words in
    mixed case): equal features, flags, `has_digit` and `has_at`, and a
    `tox_cand` that holds on every toxic row and is exactly an
    ASCII-case-insensitive lexicon occurrence. A row over TEXT_LIMIT sets
    every guard. No JVM."""
    import numpy as np

    from cld2_spark.kernels import analyze as A
    from cld2_spark.kernels import quality as Q
    from cld2_spark.kernels import scrub as S
    from cld2_spark.kernels import text as T

    rng = np.random.default_rng(20261020)
    pieces = list(" \t\n\x0b\f\r aZ09@!-~\u00e9\u212a\U0001F600\u3000") + [
        "frakking", "FrElL", "belgium++", "dren", "SHAZ", "bot", " jo@x.com ",
        "123-45-6789"]
    texts = ["".join(rng.choice(pieces, size=rng.integers(0, 30)))
             for _ in range(4000)] + ["", " ", "  ", "\t", " \t ", "a" * 9]
    s = pd.Series(texts)
    n_chars = np.array([len(t) for t in texts])
    nb = T.normalize_batch(texts)
    f = A.features(nb, n_chars)
    want = Q.features_pandas(s)
    for k, v in want.items():
        np.testing.assert_array_equal(f[k], v.to_numpy(), err_msg=k)
    r = A.rule_pass(nb, n_chars)
    for k, v in Q.flags(want).items():
        np.testing.assert_array_equal(r[k], v.to_numpy(), err_msg=k)
    np.testing.assert_array_equal(r["has_digit"], s.str.contains("[0-9]").to_numpy())
    np.testing.assert_array_equal(r["has_at"], s.str.contains("@", regex=False).to_numpy())
    ascii_lower = s.map(lambda t: "".join(c.lower() if c < "\x80" else c for c in t))
    occurs = np.array([any(w in t for w in S.TOXICITY_WORDS) for t in ascii_lower])
    np.testing.assert_array_equal(r["tox_cand"], occurs)
    toxic = S.toxicity_mask_pandas(s).to_numpy()
    assert toxic.any() and not (toxic & ~r["tox_cand"]).any()
    assert (r["tox_cand"] & ~toxic).any()  # a superset, not the test itself

    long = A.rule_pass(T.normalize_batch(["x", LONG_TEXT]),
                       np.array([1, len(LONG_TEXT)]))
    assert [long[k].tolist() for k in ("has_digit", "has_at", "tox_cand")] \
        == [[False, True]] * 3
