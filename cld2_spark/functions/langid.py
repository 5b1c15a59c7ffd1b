"""Spark UDF surface for the langid kernels.

Reproduces the reference public API (SURVEY.md §2.10,
public/compact_lang_det.h:177-306) as Arrow-batched pandas UDFs:

  detect_udf               ~ DetectLanguage (top language code only)
  detect_summary_udf       ~ ExtDetectLanguageSummary (top-3 + percents +
                             scores), with 0-4 CLDHints columns
  make_detect_summary_udf  the same with the reference's flag bits
  detect_spans_udf         per-language spans (ResultChunkVector)
  pipeline_udf             summary answer + fastText cross-check +
                           perplexity: the keep/drop pipeline's one
                           Python stage

Every UDF comes from one factory, `_langid_udf`: an `Iterator[pd.Series]
-> Iterator[...]` UDF, so the model loads once per Python worker, not
once per batch (executor-side lazy singleton = CLD2 dynamic-mode load,
internal/compact_lang_det_impl.cc:108-136). Each Arrow batch is scored in
row slices of at most `analyze.KERNEL_SLICE_CHARS` codepoints, one kernel
call per slice, so a worker's peak memory is bounded by the slice budget,
not by the batch's bytes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BooleanType, DoubleType, IntegerType, LongType, StringType,
    StructField, StructType,
)

# lang1..3/pct1..3 are SORTED by byte count (the reference's
# language3/percent3 arrays); summary_lang/summary_pct carry the
# CalcSummaryLang answer, which may differ from lang1 after an A9
# boilerplate demotion (reference returns it separately too)
SUMMARY_SCHEMA = StructType([
    StructField("lang1", StringType()), StructField("lang2", StringType()),
    StructField("lang3", StringType()),
    StructField("pct1", IntegerType()), StructField("pct2", IntegerType()),
    StructField("pct3", IntegerType()),
    StructField("ns1", DoubleType()), StructField("ns2", DoubleType()),
    StructField("ns3", DoubleType()),
    StructField("rel1", IntegerType()),
    StructField("text_bytes", LongType()),
    StructField("is_reliable", BooleanType()),
    StructField("summary_lang", StringType()),
    StructField("summary_pct", IntegerType()),
])

# the keep/drop pipeline's schema: only what the decision, the scrub and
# the verdict table consume. `lang1` here is the pipeline's per-turn
# language answer = the kernel's summary_lang (the FIXTURES.md contract
# name predates the sorted-array refactor). Then the kernel's four
# verdicts, in decide.REASONS order, and analyze.rule_pass's three
# scrub/toxicity guards.
PIPELINE_SCHEMA = StructType([
    StructField("lang1", StringType()),
    StructField("pct1", IntegerType()),
    StructField("rel1", IntegerType()),
    StructField("is_reliable", BooleanType()),
    StructField("ft_lang", StringType()),
    StructField("ppl", DoubleType()),
    *(StructField(k, BooleanType()) for k in
      ("too_short", "langid_unreliable", "low_quality", "high_perplexity",
       "has_digit", "has_at", "tox_cand")),
])

# W4 chunk vector: per-language spans of the source text
# (ResultChunkVector, public/compact_lang_det.h:146-153). off/len are
# CHARACTER offsets; off_b/len_b the same spans in UTF-8 BYTES (the
# reference's OffsetMap domain, internal/offsetmap.h:25-45)
SPANS_SCHEMA = ArrayType(StructType([
    StructField("off", IntegerType()), StructField("len", IntegerType()),
    StructField("off_b", IntegerType()), StructField("len_b", IntegerType()),
    StructField("lang", StringType()),
]))

# the CLDHints record, in the order hint columns follow the text column
# (public/compact_lang_det.h:133-138,241-271)
_HINT_FIELDS = ("lang", "content_language", "tld", "encoding")


def _hint_records(cols: list[pd.Series]) -> list[dict | None]:
    """Hint columns -> detect_batch's per-row hint dicts. NULL or empty
    fields are left out; a row without any hint is None."""
    rows = zip(*(c.fillna("") for c in cols))
    return [{k: v for k, v in zip(_HINT_FIELDS, r) if v} or None for r in rows]


def _frame(schema: StructType, **source: str):
    """Kernel result -> the schema's columns as a DataFrame; `source`
    names the result key an output column is read from when it differs."""
    cols = [f.name for f in schema.fields]
    return lambda res: pd.DataFrame({c: res[source.get(c, c)] for c in cols})


def _span_rows(res: dict) -> pd.Series:
    """detect_batch's flat span arrays -> one list of span structs per
    row, built as one Arrow list array: the spans sorted stably by row,
    each row's list bounds found by one searchsorted."""
    import numpy as np
    import pyarrow as pa
    rid = res["span_rid"]
    order = np.argsort(rid, kind="stable")
    bounds = np.searchsorted(rid[order], np.arange(len(res["summary_lang"]) + 1))
    ints = ("off", "len", "off_b", "len_b")
    spans = pa.StructArray.from_arrays(
        [pa.array(res[f"span_{k}"][order], type=pa.int32()) for k in ints]
        + [pa.array(res["span_lang"][order], type=pa.string())],
        names=[*ints, "lang"])
    return pd.Series(pd.arrays.ArrowExtensionArray(
        pa.ListArray.from_arrays(pa.array(bounds, type=pa.int32()), spans)))


def _stat_checked_zip_reload() -> None:
    """Make `zipimporter.invalidate_caches` re-read an archive's directory
    only when the archive's (st_mtime_ns, st_size) changed since its last
    read. PySpark's worker calls `importlib.invalidate_caches()` at the
    start of every task; before Python 3.13 that makes every cached
    zipimporter re-read its whole directory, and the 1,328 entries of
    pyspark.zip alone cost 0.13-0.26 s per task (3.13 only drops the
    cached directory). Installed once per process; a first call per
    archive re-reads, as it would have."""
    import os
    import sys
    import zipimport

    cls = zipimport.zipimporter
    if sys.version_info >= (3, 13) or hasattr(cls, "_cld2s_reload"):
        return
    reload = cls._cld2s_reload = cls.invalidate_caches
    stamps: dict[str, tuple[int, int]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and stamps.get(self.archive) == stamp \
                and files is not None:
            self._files = files
            return
        reload(self)
        stamps[self.archive] = stamp

    cls.invalidate_caches = invalidate_caches


def _langid_udf(name: str, schema, out, doc: str, analyze: bool = False,
                **flags):
    """One SCALAR_ITER pandas UDF over a langid kernel. Per Python worker
    it installs the stat-checked zip reload and loads the model once; per
    Arrow batch it fills NULL text with "", turns any hint columns into
    hint records, and cuts the rows into `kernel_slices`. Per slice it
    makes one kernel call (analyze_batch, or detect_batch with `flags`)
    and yields `out(result)`: Spark checks only the total row count of an
    iterator UDF, so a batch may come back as several frames."""
    def udf(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        from cld2_spark.kernels.analyze import analyze_batch, kernel_slices
        from cld2_spark.kernels.detect import detect_batch
        from cld2_spark.kernels.model import default_model
        _stat_checked_zip_reload()
        model = default_model()
        for batch in batches:
            text, *hint_cols = batch if isinstance(batch, tuple) else (batch,)
            texts = text.fillna("").tolist()
            hints = _hint_records(hint_cols) if hint_cols else None
            for s in kernel_slices(texts):
                if analyze:
                    res = analyze_batch(texts[s], model)
                else:
                    res = detect_batch(texts[s], model,
                                       hints=hints[s] if hints else None,
                                       **flags)
                yield out(res)
    udf.__name__ = udf.__qualname__ = name
    udf.__doc__ = doc
    return F.pandas_udf(schema)(udf)


detect_udf = _langid_udf(
    "detect_udf", StringType(), lambda res: pd.Series(res["summary_lang"]),
    "DetectLanguage analogue: top language code per row.")

detect_summary_udf = _langid_udf(
    "detect_summary_udf", SUMMARY_SCHEMA, _frame(SUMMARY_SCHEMA),
    """ExtDetectLanguageSummary analogue: top-3 + percents + reliability.
    detect_summary_udf(text, *hints) takes 0-4 hint columns after the
    text, in CLDHints order: (lang, content_language, tld, encoding).
    Up to 4 merged priors per row (TrimCLDLangPriors); hints bias the
    scoring, they never force the result (J8).""")


def make_detect_summary_udf(best_effort: bool = False,
                            score_as_quads: bool = False,
                            is_plain_text: bool = True):
    """Flagged variant of detect_summary_udf (kCLDFlagBestEffort /
    kCLDFlagScoreAsQuads / is_plain_text, public/compact_lang_det.h:
    342-376,177-190). bestEffort returns the best guess instead of `un`
    on short / low-confidence rows (and consults the J2 backoff table);
    scoreAsQuads scores single-language scripts through the quad path;
    is_plain_text=False strips tags and expands the FULL verbatim entity
    table before detection."""
    return _langid_udf(
        "detect_summary_udf", SUMMARY_SCHEMA, _frame(SUMMARY_SCHEMA),
        detect_summary_udf.__doc__, best_effort=best_effort,
        score_as_quads=score_as_quads, is_plain_text=is_plain_text)


detect_spans_udf = _langid_udf(
    "detect_spans_udf", SPANS_SCHEMA, _span_rows,
    """Per-row language spans (the ExtDetectLanguageSummaryCheckUTF8
    resultchunkvector output: W4 stitching + W3 boundary sharpening).""",
    return_spans=True)

pipeline_udf = _langid_udf(
    "pipeline_udf", PIPELINE_SCHEMA,
    _frame(PIPELINE_SCHEMA, lang1="summary_lang"),
    """Combined langid + cross-check + perplexity (one normalization
    pass), reduced to the columns the keep/drop decision reads.""",
    analyze=True)
